"""Keyed-table upsert/delete (round 11): override semantics at the
storage layer. Every batch is one delta append; compaction folds the
deltas back by rewriting ONLY the bucket directories they touch."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from hadoop_20_warehouse_fix_spark.sources.keyed import (
    BUCKET_COL,
    _current_commit,
    _delta_seq_dirs,
    compact_keyed_table,
    delete_from_keyed_table,
    read_keyed_meta,
    read_keyed_table,
    upsert_keyed_table,
    write_keyed_table,
)
from tests.conftest import count_jobs


def _base_dirs(spark, path: str) -> dict[int, str]:
    """bucket id -> its live ``_b<b>.v<n>`` dir, as the current commit
    manifest resolves it (the only way a reader finds base data)."""
    cm = _current_commit(spark, path) or {}
    return {int(b): os.path.join(path, d) for b, d in (cm.get("buckets") or {}).items()}


def _bucket_files(spark, path: str) -> dict[int, set[tuple[str, str, float, int]]]:
    """bucket id -> {(dir, file, mtime, size)} — physical identity probe."""
    return {
        b: {
            (d, f, os.path.getmtime(os.path.join(d, f)), os.path.getsize(os.path.join(d, f)))
            for f in os.listdir(d)
            if not f.startswith((".", "_"))
        }
        for b, d in _base_dirs(spark, path).items()
    }


def _mk_table(spark, **layout):
    tmp = tempfile.mkdtemp(prefix="keyed_")
    path = f"{tmp}/tab"
    base = spark.range(10_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"), F.lit("base").alias("tag")
    )
    write_keyed_table(base, path, ["k"], num_buckets=16, **layout)
    return path


@pytest.fixture()
def keyed(spark):
    path = _mk_table(spark)
    yield path
    shutil.rmtree(path.rsplit("/", 1)[0], ignore_errors=True)


@pytest.fixture()
def ranged(spark):
    # 16 buckets of 625 keys, the same bucket count as the hash table
    path = _mk_table(spark, layout="range", range_step=625)
    yield path
    shutil.rmtree(path.rsplit("/", 1)[0], ignore_errors=True)


def test_upsert_override_semantics_and_cow(spark, ranged):
    """The upsert appends and leaves every base file as it was; the
    compaction that folds it is the copy-on-write step, and it rewrites
    only the bucket dirs the batch touched."""
    before = _bucket_files(spark, ranged)
    updates = spark.range(110).select(
        # keys 3000..3099 hit bucket 4; 20_000..20_009 insert into bucket 32
        F.when(F.col("id") < 100, F.col("id") + 3_000).otherwise(F.col("id") + 19_900).alias("k"),
        F.lit(-1).cast("long").alias("v"),
        F.lit("upd").alias("tag"),
    )
    diag = upsert_keyed_table(spark, ranged, updates)
    assert diag["rows"] == 110 and diag["seq"] == 1
    assert _bucket_files(spark, ranged) == before
    want = {(k, 2 * k, "base") for k in range(10_000) if not 3_000 <= k < 3_100} | {
        (k, -1, "upd") for k in [*range(3_000, 3_100), *range(20_000, 20_010)]
    }
    got = {(r.k, r.v, r.tag) for r in read_keyed_table(spark, ranged).collect()}
    assert got == want
    cdiag = compact_keyed_table(spark, ranged)
    touched = set(cdiag["touched_buckets"])
    assert touched == {4, 32}
    assert {(r.k, r.v, r.tag) for r in read_keyed_table(spark, ranged).collect()} == want
    # every untouched bucket's files are physically identical
    after = _bucket_files(spark, ranged)
    for b, files in before.items():
        if b not in touched:
            assert after[b] == files, f"untouched bucket {b} was rewritten"


def test_delete_and_new_bucket_insert(spark, keyed):
    # delete every key divisible by 7
    keys = spark.range(10_000).filter(F.col("id") % 7 == 0).select(F.col("id").alias("k"))
    diag = delete_from_keyed_table(spark, keyed, keys)
    assert diag["rows"] == len([k for k in range(10_000) if k % 7 == 0])
    left = read_keyed_table(spark, keyed)
    assert left.count() == 10_000 - diag["rows"]
    assert left.filter(F.col("k") % 7 == 0).count() == 0
    # duplicate delete keys are fine (assume_unique defaults True there)
    delete_from_keyed_table(spark, keyed, keys.union(keys))


def test_batch_validation(spark, keyed):
    dup = spark.createDataFrame(
        [(1, 0, "a"), (1, 1, "b")], "k long, v long, tag string"
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        upsert_keyed_table(spark, keyed, dup)
    with pytest.raises(ValueError, match="columns"):
        upsert_keyed_table(spark, keyed, dup.select("k", "v"))
    with pytest.raises(ValueError, match="lacks key columns"):
        delete_from_keyed_table(spark, keyed, dup.select(F.col("v").alias("x")))
    with pytest.raises(ValueError, match="not a keyed table"):
        read_keyed_meta(spark, "/tmp/definitely_not_a_keyed_table")
    # assume_unique skips the check and last..well, arbitrary row wins is
    # NOT promised — the flag is for pre-proven batches; just assert it runs
    upsert_keyed_table(
        spark, keyed, dup.dropDuplicates(["k"]), assume_unique=True
    )


def test_composite_keys_and_meta(spark):
    tmp = tempfile.mkdtemp(prefix="keyed_comp_")
    path = f"{tmp}/tab"
    try:
        df = spark.range(1_000).select(
            (F.col("id") % 50).alias("a"),
            (F.col("id") / 50).cast("long").alias("b"),
            F.col("id").alias("v"),
        )
        write_keyed_table(df, path, ["a", "b"], num_buckets=8)
        meta = read_keyed_meta(spark, path)
        assert meta["key_cols"] == ["a", "b"] and meta["num_buckets"] == 8
        ups = spark.createDataFrame([(3, 2, -7)], "a long, b long, v long")
        upsert_keyed_table(spark, path, ups)
        tab = read_keyed_table(spark, path)
        assert tab.filter((F.col("a") == 3) & (F.col("b") == 2)).first().v == -7
        assert tab.count() == 1_000
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_touched_read_prunes_directories(spark, keyed):
    """Behavioral directory-pruning proof: a bucket-restricted base
    read only ever opens files under the matching buckets' dirs of the
    current commit."""
    from hadoop_20_warehouse_fix_spark.sources.keyed import _base_df

    few = [0, 3]
    files = {
        r.f
        for r in _base_df(spark, keyed, read_keyed_meta(spark, keyed), buckets=few)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    }
    assert files
    dirs = _base_dirs(spark, keyed)
    for f in files:
        assert any(f"/{os.path.basename(dirs[b])}/" in f for b in few), f


def _ups(spark, pairs):
    return spark.createDataFrame(pairs, "k long, v long, tag string")


def _scan_roots(df) -> list[str]:
    """Root paths of every file scan in ``df``'s optimized plan."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    out = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRelation":
            rp = leaf.relation().location().rootPaths()
            out += [rp.apply(j).toString() for j in range(rp.size())]
    return out


def test_base_scan_roots_are_files_not_hidden_dirs(spark, keyed):
    """The base scan's root paths are the parquet files of the live
    versioned dirs. A hidden ``_b<b>.v<n>`` dir as a root path made
    Spark log "All paths were ignored" plus one line per dir on every
    read, lookup and compaction. A live dir that is gone still raises
    rather than reading as empty."""
    from hadoop_20_warehouse_fix_spark.sources.keyed import lookup_keys

    def hidden(paths):
        return [p for p in paths if p.rstrip("/").rsplit("/", 1)[-1].startswith("_")]

    roots = _scan_roots(read_keyed_table(spark, keyed))
    assert roots and not hidden(roots)
    live = {os.path.basename(d) for d in _base_dirs(spark, keyed).values()}
    assert {r.rsplit("/", 2)[-2] for r in roots} == live
    upsert_keyed_table(spark, keyed, _ups(spark, [(1, -1, "m")]))
    for df in (read_keyed_table(spark, keyed), lookup_keys(spark, keyed, [1, 2])):
        roots = _scan_roots(df)
        assert roots and not hidden(roots), roots
    shutil.rmtree(_base_dirs(spark, keyed)[0])
    with pytest.raises(FileNotFoundError, match="are gone"):
        read_keyed_table(spark, keyed)


def test_mor_upsert_is_append_only_and_resolves(spark, keyed):
    before = _bucket_files(spark, keyed)
    d1 = upsert_keyed_table(spark, keyed, _ups(spark, [(5, -5, "m1"), (20_001, 1, "m1")]))
    d2 = upsert_keyed_table(spark, keyed, _ups(spark, [(5, -55, "m2")]))
    assert (d1["seq"], d2["seq"]) == (1, 2)
    # base files byte-identical: MOR writes never touch them
    assert _bucket_files(spark, keyed) == before
    assert os.path.isdir(f"{keyed}/_delta/seq=1") and os.path.isdir(f"{keyed}/_delta/seq=2")
    tab = read_keyed_table(spark, keyed)
    assert tab.count() == 10_001  # one insert
    got = {(r.k, r.v, r.tag) for r in tab.filter(F.col("k").isin(5, 20_001, 7)).collect()}
    assert got == {(5, -55, "m2"), (20_001, 1, "m1"), (7, 14, "base")}  # latest seq wins
    # a plain parquet read of the base dirs sees only the base — the
    # documented contract
    assert spark.read.parquet(*_base_dirs(spark, keyed).values()).count() == 10_000


def test_mor_delete_tombstone_then_compact_physical(spark, keyed):
    upsert_keyed_table(spark, keyed, _ups(spark, [(3, -3, "m")]))
    delete_from_keyed_table(
        spark, keyed, spark.createDataFrame([(3,), (8,)], "k long")
    )
    tab = read_keyed_table(spark, keyed)
    assert tab.count() == 9_998  # 3 (overridden then tombstoned) and 8 gone
    assert tab.filter(F.col("k").isin(3, 8)).count() == 0
    want_rows = {tuple(r) for r in tab.collect()}  # BEFORE compact drops the delta files
    before = _bucket_files(spark, keyed)
    diag = compact_keyed_table(spark, keyed)
    assert diag["deltas_folded"] == 2 and diag["touched_buckets"]
    assert _delta_seq_dirs(spark, keyed) == []
    after_tab = read_keyed_table(spark, keyed)
    assert {tuple(r) for r in after_tab.collect()} == want_rows
    # tombstoned keys physically gone from the base scan
    base = spark.read.parquet(*_base_dirs(spark, keyed).values())
    assert base.filter(F.col("k").isin(3, 8)).count() == 0
    # compaction itself is COW: untouched buckets keep their files
    after = _bucket_files(spark, keyed)
    touched = set(diag["touched_buckets"])
    for b, files in before.items():
        if b not in touched:
            assert after[b] == files, f"untouched bucket {b} rewritten by compact"
    # idempotence of the fold: a second compact is a no-op
    assert compact_keyed_table(spark, keyed) == {"touched_buckets": [], "deltas_folded": 0}


def test_compaction_job_count(spark, keyed):
    """A compaction of two pending deltas runs 8 Spark jobs, the second
    one too, whose publish also sweeps the first one's folded dirs: the
    folded-seq bookkeeping and the sweep are driver-side listings.
    A rewrite_all with nothing pending runs 2."""
    for i in range(2):
        ups = _ups(spark, [(5 + i, -5, "m"), (20_001 + i, 1, "m")])
        upsert_keyed_table(spark, keyed, ups)
        upsert_keyed_table(spark, keyed, ups.withColumn("v", F.lit(-7).cast("long")))
        out, n = count_jobs(spark, lambda: compact_keyed_table(spark, keyed))
        assert (out["deltas_folded"], n) == (2, 8)
    out, n = count_jobs(spark, lambda: compact_keyed_table(spark, keyed, rewrite_all=True))
    assert (out["deltas_folded"], n) == (0, 2)
    assert read_keyed_table(spark, keyed).filter("k in (5, 6)").count() == 2


def test_pending_deltas_pick_mor_and_newest_write_wins(spark, ranged):
    """Upserts, deletes and change batches share one seq order, so the
    newest write wins across them, before and after a compaction."""
    from hadoop_20_warehouse_fix_spark.sources.keyed import apply_changes_keyed_table

    first = apply_changes_keyed_table(spark, ranged, _ups(spark, [(1, 0, "m"), (2, 0, "m")]))
    out = upsert_keyed_table(spark, ranged, _ups(spark, [(1, -1, "new")]))
    assert out["seq"] == first["seq"] + 1
    out = delete_from_keyed_table(spark, ranged, spark.createDataFrame([(2,)], "k long"))
    assert out["seq"] == first["seq"] + 2 and out["deletes"] == 1
    tab = read_keyed_table(spark, ranged)
    assert tab.filter("k = 1").first().v == -1 and tab.filter("k = 2").count() == 0
    compact_keyed_table(spark, ranged)
    upsert_keyed_table(spark, ranged, _ups(spark, [(1, -3, "c")]))
    tab = read_keyed_table(spark, ranged)
    assert tab.filter("k = 1").first().v == -3 and tab.count() == 9_999


def test_range_layout_keeps_local_batches_local(spark):
    """A key-local batch on a range layout touches ONE bucket dir of
    many, so its compaction rewrites that dir alone (hash scatters the
    same batch everywhere — the SCALING.md r11 birthday-math finding)."""
    tmp = tempfile.mkdtemp(prefix="keyed_range_")
    path = f"{tmp}/tab"
    try:
        base = spark.range(100_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v"), F.lit("base").alias("tag")
        )
        write_keyed_table(base, path, ["k"], layout="range", range_step=10_000)
        assert read_keyed_meta(spark, path)["layout"] == "range"
        # backfill one "day": keys 30_000..30_099
        ups = spark.range(30_000, 30_100).select(
            F.col("id").alias("k"), F.lit(-1).cast("long").alias("v"), F.lit("fix").alias("tag")
        )
        assert upsert_keyed_table(spark, path, ups)["rows"] == 100
        before = _base_dirs(spark, path)
        assert compact_keyed_table(spark, path)["touched_buckets"] == [3]
        after = _base_dirs(spark, path)
        assert after[3] != before[3]
        assert {b: d for b, d in after.items() if b != 3} == {
            b: d for b, d in before.items() if b != 3
        }
        tab = read_keyed_table(spark, path)
        assert tab.filter("tag = 'fix'").count() == 100 and tab.count() == 100_000
        with pytest.raises(ValueError, match="range_step"):
            write_keyed_table(base, f"{tmp}/bad", ["k"], layout="range")
        with pytest.raises(ValueError, match="layout"):
            write_keyed_table(base, f"{tmp}/bad2", ["k"], layout="zorder")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_keyed_upsert_ingest_cdc(spark, tmp_path):
    """CDC drain onto a keyed table: two landing files become two
    micro-batches (maxFilesPerTrigger=1); later batch overrides the
    earlier one's key, deletes tombstone, compact_every bounds the
    pending deltas, and re-draining the same checkpoint is a no-op."""
    from hadoop_20_warehouse_fix_spark.streaming import stream_keyed_upsert_ingest

    path = str(tmp_path / "tab")
    base = spark.range(1_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"), F.lit("base").alias("tag")
    )
    write_keyed_table(base, path, ["k"], num_buckets=8)

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    b1 = spark.createDataFrame(
        [(1, -1, "b1", "upsert"), (2, -2, "b1", "upsert"), (3, 0, "b1", "delete")],
        "k long, v long, tag string, op string",
    )
    b2 = spark.createDataFrame(
        [(1, -11, "b2", "upsert"), (2000, 1, "b2", "upsert")],
        "k long, v long, tag string, op string",
    )
    b1.coalesce(1).write.parquet(f"{landing}/f1")
    b2.coalesce(1).write.parquet(f"{landing}/f2")

    def drain():
        sdf = (
            spark.readStream.schema("k long, v long, tag string, op string")
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(landing)
        )
        stream_keyed_upsert_ingest(
            sdf, path, str(tmp_path / "ckpt"), op_col="op", compact_every=3
        )

    drain()
    tab = read_keyed_table(spark, path)
    assert tab.count() == 1_000  # -1 delete +1 insert
    got = {(r.k, r.v, r.tag) for r in tab.filter(F.col("k").isin(1, 2, 3, 2000)).collect()}
    # file order within a directory listing is deterministic here
    # (f1 < f2); key 1 must carry the LATER batch's value
    assert got == {(1, -11, "b2"), (2, -2, "b1"), (2000, 1, "b2")}
    # re-drain with the same checkpoint: Spark replays nothing new and
    # the table is unchanged
    drain()
    assert {(r.k, r.v, r.tag) for r in read_keyed_table(spark, path).filter(
        F.col("k").isin(1, 2, 3, 2000)
    ).collect()} == got


def test_cdc_compact_manifest_pruned_read_composition(spark, tmp_path):
    """The round-11 storage seams composed end-to-end: a range-keyed
    table takes a CDC stream (upserts + a tombstone), in-stream
    compaction folds it into the base via COW swaps, the stats
    manifest refreshes incrementally over exactly the swapped bucket
    dirs, and a manifest-pruned range read returns the post-CDC truth
    while skipping most files."""
    from hadoop_20_warehouse_fix_spark.sources.manifest import (
        manifest_kept_files,
        read_pruned,
        refresh_file_stats_manifest,
        write_file_stats_manifest,
    )
    from hadoop_20_warehouse_fix_spark.streaming import stream_keyed_upsert_ingest

    path = str(tmp_path / "ts")
    base = spark.range(100_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v"), F.lit("base").alias("tag")
    )
    write_keyed_table(base, path, ["k"], layout="range", range_step=10_000)
    mpath = write_file_stats_manifest(spark, path, cols=["k", "v"])

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    spark.createDataFrame(
        [(35_000, -1, "fix", "upsert"), (35_001, -1, "fix", "upsert"), (35_002, 0, "", "delete")],
        "k long, v long, tag string, op string",
    ).coalesce(1).write.parquet(f"{landing}/f1")
    sdf = (
        spark.readStream.schema("k long, v long, tag string, op string")
        .option("recursiveFileLookup", "true")
        .parquet(landing)
    )
    stream_keyed_upsert_ingest(sdf, path, str(tmp_path / "ckpt"), op_col="op", compact_every=1)
    assert _delta_seq_dirs(spark, path) == []  # compacted in-stream

    diag = refresh_file_stats_manifest(spark, path)
    # only bucket 3's dir was republished, so few files changed
    assert diag["removed"] >= 1 and diag["added"] >= 1 and diag["added"] <= 4

    got = read_pruned(spark, path, {"k": (34_990, 35_010)})
    want = {
        (k, -1 if k in (35_000, 35_001) else k % 97,
         "fix" if k in (35_000, 35_001) else "base")
        for k in range(34_990, 35_011)
        if k != 35_002  # tombstoned
    }
    assert {(r.k, r.v, r.tag) for r in got.select("k", "v", "tag").collect()} == want
    kept, total = manifest_kept_files(spark, mpath, {"k": (34_990, 35_010)})
    assert 0 < len(kept) < total  # the range layout made the skip real


def test_compact_refresh_manifest_flag(spark, tmp_path):
    """compact_keyed_table(refresh_manifest=True) runs the incremental
    manifest refresh over exactly the swapped files when a manifest
    exists, and is a silent no-op when none does."""
    from hadoop_20_warehouse_fix_spark.sources.manifest import (
        read_pruned,
        write_file_stats_manifest,
    )

    path = str(tmp_path / "tab")
    df = spark.range(1_000).select(F.col("id").alias("k"), (F.col("id") % 97).alias("v"))
    write_keyed_table(df, path, ["k"], num_buckets=4)
    ups = spark.createDataFrame([(5, -1)], "k long, v long")
    upsert_keyed_table(spark, path, ups)
    diag = compact_keyed_table(spark, path, refresh_manifest=True)
    assert "manifest" not in diag  # no manifest on the table: no-op
    write_file_stats_manifest(spark, path, cols=["v"])
    upsert_keyed_table(spark, path, spark.createDataFrame([(6, -2)], "k long, v long"))
    diag = compact_keyed_table(spark, path, refresh_manifest=True)
    assert diag["manifest"]["added"] >= 1 and diag["manifest"]["removed"] >= 1
    got = read_pruned(spark, path, {"v": (-2, -1)})
    assert {(r.k, r.v) for r in got.select("k", "v").collect()} == {(5, -1), (6, -2)}


def test_mor_idempotency_key_replay(spark, keyed):
    ups = _ups(spark, [(10, -10, "m")])
    d1 = upsert_keyed_table(spark, keyed, ups, idempotency_key="batch-7")
    d2 = upsert_keyed_table(
        spark, keyed, _ups(spark, [(10, -999, "SHOULD-NOT-LAND")]),
        idempotency_key="batch-7",
    )
    assert "replayed" not in d1 and d2["replayed"] and d2["seq"] == d1["seq"]
    assert read_keyed_table(spark, keyed).filter("k = 10").first().v == -10
    # round 13: the replay ledger SURVIVES a default compaction (the
    # ingest markers stay in the folded seq dirs), so a post-compaction
    # replay is detected physically, not just value-idempotent
    compact_keyed_table(spark, keyed)
    d3 = upsert_keyed_table(spark, keyed, ups, idempotency_key="batch-7")
    assert d3.get("replayed") is True and d3["seq"] == d1["seq"]
    assert read_keyed_table(spark, keyed).filter("k = 10").first().v == -10
    # once a further publish retires the folded dirs (gc_generations=1)
    # the markers go with them and the replay lands as a NEW delta —
    # value-idempotent (same rows), the pre-r13 seam
    compact_keyed_table(spark, keyed, rewrite_all=True)
    d4 = upsert_keyed_table(spark, keyed, ups, idempotency_key="batch-7")
    assert "replayed" not in d4
    assert read_keyed_table(spark, keyed).filter("k = 10").first().v == -10


def test_delete_everything_keeps_table_readable(spark):
    """Round-11 review: an all-rows delete, once folded, removes every
    bucket dir — the table must stay readable (schema from meta) and
    writable."""
    tmp = tempfile.mkdtemp(prefix="keyed_empty_")
    path = f"{tmp}/tab"
    try:
        df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
        write_keyed_table(df, path, ["k"], num_buckets=4)
        delete_from_keyed_table(spark, path, df.select("k"))
        compact_keyed_table(spark, path)
        assert not (_current_commit(spark, path) or {}).get("buckets")
        out = read_keyed_table(spark, path)
        assert out.count() == 0 and out.columns == ["k", "v"]
        # MOR ops on the empty table work too (base schema from meta)
        delete_from_keyed_table(spark, path, df.select("k"))
        upsert_keyed_table(
            spark, path, spark.createDataFrame([(9, "z")], "k long, v string")
        )
        assert [tuple(r) for r in read_keyed_table(spark, path).collect()] == [(9, "z")]
        compact_keyed_table(spark, path)
        assert [tuple(r) for r in read_keyed_table(spark, path).collect()] == [(9, "z")]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_lookup_broadcast_cap_falls_back_to_shuffle(spark, ranged, monkeypatch):
    """Round-11 review: past the key cap a lookup key frame must
    semi-join as a plain shuffle (a forced broadcast of a huge key set
    fails where the shuffle succeeds) — rows identical either way."""
    import hadoop_20_warehouse_fix_spark.sources.keyed as K
    from hadoop_20_warehouse_fix_spark.sources.keyed import lookup_keys

    kdf = spark.createDataFrame([(11,), (12,), (20_002,)], "k long")

    def hinted(df) -> bool:
        return "strategy=broadcast" in df._jdf.queryExecution().analyzed().toString()

    runs = {}
    for cap in (K.LOOKUP_BROADCAST_KEY_ROWS, 1):
        monkeypatch.setattr(K, "LOOKUP_BROADCAST_KEY_ROWS", cap)
        out = lookup_keys(spark, ranged, kdf)
        runs[cap > 1] = (hinted(out), {(r.k, r.v, r.tag) for r in out.collect()})
    assert runs[True][0] and not runs[False][0]
    assert runs[True][1] == runs[False][1] == {(11, 22, "base"), (12, 24, "base")}


def test_stream_namespace_isolates_checkpoints(spark, tmp_path):
    """Round-11 review: a second pipeline (fresh checkpoint, batch ids
    restart at 0) writing the same table must NOT be swallowed as a
    replay of the first pipeline's batch 0."""
    from hadoop_20_warehouse_fix_spark.sources.keyed import _delta_seq_dirs
    from hadoop_20_warehouse_fix_spark.streaming import stream_keyed_upsert_ingest

    path = str(tmp_path / "tab")
    write_keyed_table(
        spark.createDataFrame([(1, 0)], "k long, v long"), path, ["k"], num_buckets=4
    )
    land1, land2 = str(tmp_path / "l1"), str(tmp_path / "l2")
    spark.createDataFrame([(10, 1)], "k long, v long").coalesce(1).write.parquet(land1)
    spark.createDataFrame([(20, 2)], "k long, v long").coalesce(1).write.parquet(land2)
    for i, land in enumerate((land1, land2)):
        sdf = spark.readStream.schema("k long, v long").parquet(land)
        stream_keyed_upsert_ingest(sdf, path, str(tmp_path / f"ckpt{i}"))
    assert len(_delta_seq_dirs(spark, path)) == 2  # neither swallowed
    assert {tuple(r) for r in read_keyed_table(spark, path).collect()} == {
        (1, 0), (10, 1), (20, 2),
    }


def test_sort_cols_preserved_through_cow_and_compact(spark, tmp_path):
    """sort_cols orders rows within every bucket file (row-group
    min/max pruning on the sort key) — and the order must survive every
    compaction (the copy-on-write bucket rewrite), not just the initial
    load."""
    import pyarrow.parquet as pq

    from hadoop_20_warehouse_fix_spark.sources.keyed import apply_changes_keyed_table

    path = str(tmp_path / "tab")
    df = spark.range(40_000).select(
        F.col("id").alias("k"),
        F.pmod(F.xxhash64("id"), F.lit(1_000_000)).alias("ts"),
        F.lit("x").alias("tag"),
    )
    write_keyed_table(df, path, ["k"], layout="range", range_step=5_000, sort_cols=["ts"])

    def assert_sorted_files():
        dirs = _base_dirs(spark, path)
        assert dirs
        for d in dirs.values():
            for f in os.listdir(d):
                if not f.endswith(".parquet"):
                    continue
                ts = pq.read_table(os.path.join(d, f), columns=["ts"])["ts"].to_pylist()
                assert ts == sorted(ts), f"{d}/{f} not ts-sorted"

    assert_sorted_files()
    ups = spark.createDataFrame([(5, 12345, "u"), (17, 1, "u")], "k long, ts long, tag string")
    upsert_keyed_table(spark, path, ups)
    compact_keyed_table(spark, path)
    assert_sorted_files()
    apply_changes_keyed_table(
        spark, path,
        spark.createDataFrame([(6, 99, "m")], "k long, ts long, tag string"),
    )
    compact_keyed_table(spark, path)
    assert_sorted_files()
    assert read_keyed_table(spark, path).count() == 40_000
    with pytest.raises(ValueError, match="sort columns"):
        write_keyed_table(df, str(tmp_path / "bad"), ["k"], sort_cols=["nope"])


def test_lookup_keys_point_reads(spark, keyed):
    """MapFile.get() analog: literal keys resolve driver-side to bucket
    dirs, honor pending MOR overrides and tombstones, and miss cleanly."""
    from hadoop_20_warehouse_fix_spark.sources.keyed import lookup_keys

    upsert_keyed_table(spark, keyed, _ups(spark, [(42, -42, "m")]))
    delete_from_keyed_table(
        spark, keyed, spark.createDataFrame([(43,)], "k long")
    )
    got = {(r.k, r.v, r.tag) for r in lookup_keys(spark, keyed, [42, 43, 44, 99_999]).collect()}
    assert got == {(42, -42, "m"), (44, 88, "base")}  # 43 tombstoned, 99999 absent
    # DataFrame form agrees
    kdf = spark.createDataFrame([(42,), (43,), (44,)], "k long")
    got_df = {(r.k, r.v, r.tag) for r in lookup_keys(spark, keyed, kdf).collect()}
    assert got_df == {(42, -42, "m"), (44, 88, "base")}
    assert lookup_keys(spark, keyed, []).count() == 0
    import pytest as _pt

    with _pt.raises(ValueError, match="max_literal_keys"):
        lookup_keys(spark, keyed, list(range(50)), max_literal_keys=10)
    with _pt.raises(ValueError, match="component"):
        lookup_keys(spark, keyed, [(1, 2)])
    with _pt.raises(ValueError, match="lacks key columns"):
        lookup_keys(spark, keyed, kdf.withColumnRenamed("k", "x"))


def test_lookup_keys_prunes_directories_range_layout(spark, tmp_path):
    """On a range layout with no deltas, a literal lookup must only
    open files under the keys' bucket dirs (behavioral pruning proof,
    driver-side bucket math incl. the div-vs-floor negative edge)."""
    from hadoop_20_warehouse_fix_spark.sources.keyed import lookup_keys

    path = str(tmp_path / "tab")
    df = spark.range(-5_000, 45_000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    write_keyed_table(df, path, ["k"], layout="range", range_step=10_000)
    out = lookup_keys(spark, path, [-4_999, 12_345, None])  # NULL matches nothing
    assert {(r.k, r.v) for r in out.collect()} == {(-4_999, -14_997), (12_345, 37_035)}
    files = {
        r.f for r in out.select(F.input_file_name().alias("f")).distinct().collect()
    }
    dirs = _base_dirs(spark, path)
    want = {f"/{os.path.basename(dirs[b])}/" for b in (0, 1)}
    assert files and all(any(w in f for w in want) for f in files), files
    # composite-key literal form on a hash layout
    path2 = str(tmp_path / "tab2")
    df2 = spark.range(1_000).select(
        (F.col("id") % 10).alias("a"), (F.col("id") / 10).cast("long").alias("b"),
        F.col("id").alias("v"),
    )
    write_keyed_table(df2, path2, ["a", "b"], num_buckets=8)
    got = lookup_keys(spark, path2, [(3, 7), (9, 99)]).collect()
    assert {(r.a, r.b, r.v) for r in got} == {(3, 7, 73), (9, 99, 999)}


def test_lookup_keys_null_key_frame_range_layout(spark, tmp_path):
    """A NULL key in a DataFrame key frame on a range layout has a NULL
    bucket id; it matches no row (as on the hash layout) instead of
    crashing the bucket-id collection, and the other keys still hit."""
    from hadoop_20_warehouse_fix_spark.sources.keyed import lookup_keys

    path = str(tmp_path / "tab")
    df = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
    write_keyed_table(df, path, ["k"], layout="range", range_step=10)
    keys = spark.createDataFrame([(None,), (5,)], "k long")
    assert [(r.k, r.v) for r in lookup_keys(spark, path, keys).collect()] == [(5, 15)]


def test_lookup_keys_casts_to_table_key_types(spark, tmp_path):
    """Second-pass review pin: xxhash64 is TYPE-sensitive — an
    int-keyed table probed with long keys hashes to the wrong bucket
    and silently reports the key absent. Both key forms must cast to
    the table's key schema first."""
    from hadoop_20_warehouse_fix_spark.sources.keyed import lookup_keys

    path = str(tmp_path / "tab")
    df = spark.range(1_000).select(
        F.col("id").cast("int").alias("k"), (F.col("id") * 2).alias("v")
    )
    write_keyed_table(df, path, ["k"], num_buckets=16)
    got = lookup_keys(spark, path, [42, 999])  # python ints -> long by default
    assert {(r.k, r.v) for r in got.collect()} == {(42, 84), (999, 1998)}
    kdf = spark.createDataFrame([(42,)], "k long")  # deliberately long-typed
    assert [(r.k, r.v) for r in lookup_keys(spark, path, kdf).collect()] == [(42, 84)]


def test_driver_bucket_ids_match_spark_xxhash64_property(spark):
    """Driver-side hash-layout bucket ids equal Spark's
    ``pmod(xxhash64(...), n)`` for every key type the driver answers:
    byte/short/int/long at their extremes and negatives, booleans,
    strings (empty, non-ASCII, around the 32-byte stripe), dates,
    NULL components and composite keys, at several bucket counts."""
    import datetime

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from hadoop_20_warehouse_fix_spark.sources.keyed import _literal_buckets

    ddl = "b tinyint, s smallint, i int, l bigint, f boolean, t string, d date"
    schema = spark.createDataFrame([], ddl).schema
    names = schema.fieldNames()
    nbs = (1, 2, 7, 16, 64, 1000)

    def check(rows, cols):
        want = spark.createDataFrame(rows, ddl).select(
            *[F.pmod(F.xxhash64(*cols), F.lit(n)).cast("int") for n in nbs]
        ).collect()
        types = [schema[c].dataType for c in cols]
        idx = [names.index(c) for c in cols]
        for r, w in zip(rows, want):
            key = tuple(r[i] for i in idx)
            got = [_literal_buckets({"num_buckets": n}, types, [key]) for n in nbs]
            assert got == [[b] for b in w], (cols, key)

    # pinned edges, each column alone and all seven chained
    day = datetime.date
    edges = [
        (-128, -32768, -(2**31), -(2**63), False, "", day(1, 1, 1)),
        (127, 32767, 2**31 - 1, 2**63 - 1, True, "x" * 31, day(9999, 12, 31)),
        (-1, -1, -1, -1, True, "y" * 32, day(1969, 12, 31)),
        (0, 0, 0, 0, False, "z" * 33, day(1970, 1, 1)),
        (None, None, None, None, None, None, None),
        (5, None, 7, None, True, "日本語 😀 ünï" * 5, None),
    ]
    for c in names:
        check(edges, [c])
    check(edges, names)

    comps = [
        st.integers(-128, 127),
        st.integers(-(2**15), 2**15 - 1),
        st.integers(-(2**31), 2**31 - 1),
        st.integers(-(2**63), 2**63 - 1),
        st.booleans(),
        st.text(max_size=70),
        st.dates(),
    ]
    row = st.tuples(*[st.none() | s for s in comps])

    @settings(max_examples=25, deadline=None, derandomize=True)
    @given(
        cols=st.lists(st.sampled_from(names), min_size=1, max_size=4, unique=True),
        rows=st.lists(row, min_size=1, max_size=30),
    )
    def prop(cols, rows):
        check(rows, cols)

    prop()


def test_lookup_keys_literal_build_runs_no_jobs(spark, keyed, tmp_path):
    """A literal lookup on a hash layout computes its bucket ids on the
    driver: building the lookup runs no Spark job, single or composite
    key (the composite form also takes its key count from the list)."""
    from hadoop_20_warehouse_fix_spark.sources.keyed import lookup_keys

    out, n = count_jobs(spark, lambda: lookup_keys(spark, keyed, [42, 43, 99_999]))
    assert n == 0
    assert {(r.k, r.v) for r in out.collect()} == {(42, 84), (43, 86)}
    path = str(tmp_path / "comp")
    df = spark.range(1_000).select(
        (F.col("id") % 10).alias("a"), (F.col("id") / 10).cast("long").alias("b"),
        F.col("id").alias("v"),
    )
    write_keyed_table(df, path, ["a", "b"], num_buckets=8)
    out, n = count_jobs(spark, lambda: lookup_keys(spark, path, [(3, 7), (9, 99), (1, 500)]))
    assert n == 0
    assert {(r.a, r.b, r.v) for r in out.collect()} == {(3, 7, 73), (9, 99, 999)}


def test_lookup_keys_falls_back_for_keys_the_driver_cannot_hash(spark, tmp_path):
    """Double and timestamp keys get their bucket ids from Spark, and
    still find their rows; a wrong-typed literal still raises from
    ``createDataFrame``'s verifier instead of probing some bucket."""
    import datetime

    from pyspark.sql import types as T

    from hadoop_20_warehouse_fix_spark.sources.keyed import _literal_buckets, lookup_keys

    path = str(tmp_path / "dbl")
    df = spark.range(500).select(
        (F.col("id") / 4).cast("double").alias("k"), F.col("id").alias("v")
    )
    write_keyed_table(df, path, ["k"], num_buckets=8)
    assert _literal_buckets({"num_buckets": 8}, [T.DoubleType()], [(0.25,)]) is None
    got = lookup_keys(spark, path, [0.25, 100.0, 1e9])
    assert {(r.k, r.v) for r in got.collect()} == {(0.25, 1), (100.0, 400)}

    path = str(tmp_path / "ts")
    df = spark.range(500).select(
        F.timestamp_seconds(F.col("id") * 3600).alias("k"), F.col("id").alias("v")
    )
    write_keyed_table(df, path, ["k"], num_buckets=8)
    ts = df.filter("v = 7").first().k
    assert isinstance(ts, datetime.datetime)
    assert _literal_buckets({"num_buckets": 8}, [T.TimestampType()], [(ts,)]) is None
    assert [r.v for r in lookup_keys(spark, path, [ts]).collect()] == [7]

    long_keyed = str(tmp_path / "long")
    write_keyed_table(
        spark.range(100).select(F.col("id").alias("k"), F.col("id").alias("v")),
        long_keyed, ["k"], num_buckets=4,
    )
    for bad in ("42", True, 2**63):
        assert _literal_buckets({"num_buckets": 4}, [T.LongType()], [(bad,)]) is None
        with pytest.raises((TypeError, ValueError)):
            lookup_keys(spark, long_keyed, [bad])


def test_manifest_refresh_crash_recovery(spark, tmp_path):
    """Second-pass review pin: a crash between the refresh's two swap
    renames leaves __next complete and the live dir missing — the next
    refresh must recover by ONE rename, not a full rebuild."""
    from hadoop_20_warehouse_fix_spark.sources.manifest import (
        refresh_file_stats_manifest,
        write_file_stats_manifest,
    )

    path = str(tmp_path / "t")
    spark.range(1_000).select((F.col("id") % 50).alias("v")).coalesce(2).write.parquet(path)
    mpath = write_file_stats_manifest(spark, path)
    # need one real refresh first so file sets match the manifest
    spark.range(10).select((F.col("id") + 500).alias("v")).coalesce(1).write.mode(
        "append"
    ).parquet(path)
    refresh_file_stats_manifest(spark, path)
    # simulate the crash window: live renamed away, __next holds the
    # complete manifest
    os.rename(mpath, f"{mpath}__next")
    diag = refresh_file_stats_manifest(spark, path)
    assert diag == {"added": 0, "removed": 0, "kept": 3, "total": 3}  # recovered, no rebuild
    assert os.path.isdir(mpath) and not os.path.exists(f"{mpath}__next")


def test_read_plan_shapes(spark, keyed):
    """Plan discipline: with no deltas the keyed read is ONE file scan
    and ZERO exchanges (a plain base scan, no resolution machinery);
    with pending deltas the broadcast path adds no base shuffle —
    exchanges stay zero, the only join is the broadcast anti."""
    from hadoop_20_warehouse_fix_spark.plans.inspect import plan_summary

    s = plan_summary(read_keyed_table(spark, keyed))
    assert s.num_file_scans == 1 and s.num_exchanges == 0 and s.num_broadcast_joins == 0
    upsert_keyed_table(spark, keyed, _ups(spark, [(1, -1, "m")]))
    s2 = plan_summary(read_keyed_table(spark, keyed))
    # base anti-join must be BROADCAST (an SMJ would mean the base got
    # shuffled); the only exchanges allowed are the two DELTA-sized
    # ones (distinct keys + winner resolution)
    assert s2.num_broadcast_joins >= 1 and s2.num_sortmerge_joins == 0
    assert s2.num_exchanges <= 2, "extra exchange implies the base was shuffled"


def test_initial_load_uniqueness_and_reserved_col(spark):
    tmp = tempfile.mkdtemp(prefix="keyed_uni_")
    try:
        dup = spark.createDataFrame([(1, "x"), (1, "y")], "k long, v string")
        with pytest.raises(ValueError, match="duplicate keys"):
            write_keyed_table(dup, f"{tmp}/t1", ["k"])
        bad = dup.withColumnRenamed("v", BUCKET_COL)
        with pytest.raises(ValueError, match="reserved"):
            write_keyed_table(bad, f"{tmp}/t2", ["k"])
        with pytest.raises(ValueError, match="not in DataFrame"):
            write_keyed_table(dup, f"{tmp}/t3", ["zzz"])
        # NULL key components can never be overridden or deleted
        # (anti-joins never equi-match NULL) — refused up front
        nullk = spark.createDataFrame([(1, "x"), (None, "y")], "k long, v string")
        with pytest.raises(ValueError, match="NULL key"):
            write_keyed_table(nullk, f"{tmp}/t4", ["k"])
        # range layout demands an integral leading key (a string would
        # CAST to NULL and land in a hive-default bucket)
        skey = spark.createDataFrame([("a", 1)], "k string, v long")
        with pytest.raises(ValueError, match="integral leading key"):
            write_keyed_table(skey, f"{tmp}/t5", ["k"], layout="range", range_step=10)
        # 'seq' collides with the MOR delta partition column
        seqcol = spark.createDataFrame([(1, 2)], "k long, seq long")
        with pytest.raises(ValueError, match="reserved"):
            write_keyed_table(seqcol, f"{tmp}/t6", ["k"])
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_hash_layout_refuses_nonpositive_buckets(spark):
    # num_buckets=0 would make pmod(xxhash64, 0) NULL — every row in a
    # __HIVE_DEFAULT_PARTITION__ dir the swap machinery never touches
    # (round-11 ADVICE #1).
    df = spark.createDataFrame([(1, "x")], "k long, v string")
    tmp = tempfile.mkdtemp(prefix="keyed_nb_")
    try:
        with pytest.raises(ValueError, match="num_buckets >= 1"):
            write_keyed_table(df, f"{tmp}/t", ["k"], num_buckets=0)
        with pytest.raises(ValueError, match="num_buckets >= 1"):
            write_keyed_table(df, f"{tmp}/t", ["k"], num_buckets=-3)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_registered_storage_queries_plan_shapes(spark):
    """The round-12 registered storage queries keep the storage layer's
    plan discipline at the registered scale: the MOR-resolved read
    behind keyed_upsert_mor_read never shuffles the base (broadcast
    anti only, delta-sized exchanges), and manifest_pruned_read's scan
    enumerates only manifest-kept files."""
    from hadoop_20_warehouse_fix_spark.plans.inspect import plan_summary
    from hadoop_20_warehouse_fix_spark.queries import load_all

    reg = load_all()
    sf = "/root/testdata/sf0.001"
    df = reg["keyed_upsert_mor_read"].fn(spark, sf)
    s = plan_summary(df)
    assert s.num_broadcast_joins >= 1 and s.num_sortmerge_joins == 0
    assert s.num_exchanges <= 2, "extra exchange implies the base was shuffled"

    # sf0.01 for the pruned read: the registered box predicate is
    # empty at sf0.001 (orderkeys stop at ~1500), which would collapse
    # the plan to a LocalTableScan and pin nothing
    pruned = reg["manifest_pruned_read"].fn(spark, "/root/testdata/sf0.01")
    # the kept-file scan is a single parquet scan, no exchange
    s2 = plan_summary(pruned)
    assert s2.num_file_scans == 1 and s2.num_exchanges == 0
    assert pruned.count() > 0


def test_writer_lease_refuses_second_writer_and_recovers_stale(spark, keyed):
    """Round-12 brief #3: keyed tables are single-writer by contract —
    a live lease makes a second writer REFUSE with a clear error; a
    stale lease (crashed holder, past TTL) is broken and the write
    proceeds; a completed write leaves no lease behind."""
    import json
    import time

    from hadoop_20_warehouse_fix_spark.sources.keyed import (
        KeyedTableLockedError,
        _WRITER_LOCK,
    )

    lock = os.path.join(keyed, _WRITER_LOCK)
    batch = spark.createDataFrame([(1, -5, "w")], "k long, v long, tag string")

    # simulate a live concurrent writer
    with open(lock, "w") as f:
        json.dump({"host": "other", "pid": 999, "acquired_unix": time.time()}, f)
    with pytest.raises(KeyedTableLockedError, match="locked by another writer"):
        upsert_keyed_table(spark, keyed, batch)
    with pytest.raises(KeyedTableLockedError):
        compact_keyed_table(spark, keyed)
    with pytest.raises(KeyedTableLockedError):
        delete_from_keyed_table(spark, keyed, batch.select("k"))
    base = spark.range(5).select(F.col("id").alias("k"), F.lit(0).alias("v"), F.lit("x").alias("tag"))
    with pytest.raises(KeyedTableLockedError):
        write_keyed_table(base, keyed, ["k"], num_buckets=4)

    # stale lease: holder presumed crashed once past the TTL
    old = time.time() - 120
    os.utime(lock, (old, old))
    out = upsert_keyed_table(spark, keyed, batch, lock_ttl_sec=60)
    assert out["seq"] == 1
    assert not os.path.exists(lock), "lease must be released after the write"
    assert read_keyed_table(spark, keyed).filter("k = 1").first().v == -5


def test_initial_load_keeps_root_and_replaces_state(spark, keyed):
    """Round-12: the initial load writes via _staging + a manifest
    publish, so a re-load of an existing table replaces buckets/deltas/
    meta without deleting the root dir (where the writer lease lives)."""
    batch = spark.createDataFrame([(7, 0, "d")], "k long, v long, tag string")
    upsert_keyed_table(spark, keyed, batch)  # pending delta
    fresh = spark.range(100).select(
        F.col("id").alias("kk"), (F.col("id") + 1).alias("vv")
    )
    write_keyed_table(fresh, keyed, ["kk"], num_buckets=4)
    got = read_keyed_table(spark, keyed)
    assert got.columns == ["kk", "vv"] and got.count() == 100
    assert _delta_seq_dirs(spark, keyed) == [], "old deltas retired"
    assert not os.path.exists(os.path.join(keyed, "_staging"))


def test_apply_changes_mixed_batch_single_delta(spark, keyed):
    """Round-12 brief #5: a mixed CDC batch (upserts + tombstones)
    lands as ONE delta seq dir; the resolved read honors both; empty
    batches commit nothing; duplicate / NULL / delete+upsert-of-one-key
    batches refuse; replay by idempotency key is a no-op."""
    from hadoop_20_warehouse_fix_spark.sources.keyed import (
        _delta_seq_dirs,
        apply_changes_keyed_table,
    )

    chg = spark.createDataFrame(
        [(1, 111, "u", None), (2, None, None, "delete"), (20_001, 5, "new", "upsert")],
        "k long, v long, tag string, op string",
    )
    out = apply_changes_keyed_table(spark, keyed, chg, op_col="op")
    assert (out["rows"], out["deletes"], out["upserts"]) == (3, 1, 2)
    assert len(_delta_seq_dirs(spark, keyed)) == 1, "one mixed delta, not two"
    got = {r.k: (r.v, r.tag) for r in read_keyed_table(spark, keyed).filter(
        F.col("k").isin(1, 2, 20_001)).collect()}
    assert got == {1: (111, "u"), 20_001: (5, "new")}
    assert read_keyed_table(spark, keyed).count() == 10_000  # -1 del +1 ins

    # replay: same idempotency key is swallowed
    first = apply_changes_keyed_table(
        spark, keyed, chg, op_col="op", idempotency_key="cdc-b7"
    )
    again = apply_changes_keyed_table(
        spark, keyed, chg, op_col="op", idempotency_key="cdc-b7"
    )
    assert again.get("replayed") and again["seq"] == first["seq"]
    assert len(_delta_seq_dirs(spark, keyed)) == 2

    # empty batch: no delta written
    none = apply_changes_keyed_table(spark, keyed, chg.limit(0), op_col="op")
    assert none["rows"] == 0 and none["seq"] is None
    assert len(_delta_seq_dirs(spark, keyed)) == 2

    # the three refusals
    dup = spark.createDataFrame(
        [(9, 1, "a", None), (9, None, None, "delete")],
        "k long, v long, tag string, op string",
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        apply_changes_keyed_table(spark, keyed, dup, op_col="op")
    nullk = spark.createDataFrame(
        [(None, 1, "a", None)], "k long, v long, tag string, op string"
    )
    with pytest.raises(ValueError, match="NULL key"):
        apply_changes_keyed_table(spark, keyed, nullk, op_col="op")
    with pytest.raises(ValueError, match="change batch columns"):
        apply_changes_keyed_table(spark, keyed, chg.drop("tag"), op_col="op")

    # without op_col: pure upsert, still one aggregate + one write
    ups = spark.createDataFrame([(3, 333, "x")], "k long, v long, tag string")
    out2 = apply_changes_keyed_table(spark, keyed, ups)
    assert out2["deletes"] == 0 and out2["upserts"] == 1
    assert read_keyed_table(spark, keyed).filter("k = 3").first().v == 333


def test_read_keyed_changes_feed(spark, keyed):
    """Round-12 change feed: committed deltas since a checkpointed seq,
    resolved (net per key) or raw (audit log); compaction retires the
    window and a stale checkpoint raises toward re-sync."""
    from hadoop_20_warehouse_fix_spark.sources.keyed import (
        apply_changes_keyed_table,
        read_keyed_changes,
    )

    assert read_keyed_changes(spark, keyed).count() == 0  # no deltas yet
    upsert_keyed_table(
        spark, keyed,
        spark.createDataFrame([(1, 10, "a"), (2, 20, "a")], "k long, v long, tag string"),
    )
    chg = spark.createDataFrame(
        [(1, 11, "b", None), (3, None, None, "delete")],
        "k long, v long, tag string, op string",
    )
    apply_changes_keyed_table(spark, keyed, chg, op_col="op")

    raw = read_keyed_changes(spark, keyed, resolve=False)
    assert raw.count() == 4
    assert set(raw.columns) == {"k", "v", "tag", "_change_op", "_seq"}

    net = {r.k: (r.v, r._change_op, r._seq)
           for r in read_keyed_changes(spark, keyed).collect()}
    assert net == {1: (11, "upsert", 2), 2: (20, "upsert", 1), 3: (None, "delete", 2)}

    # consumer checkpointed seq 1: only the second batch comes back
    late = {r.k for r in read_keyed_changes(spark, keyed, since_seq=1).collect()}
    assert late == {1, 3}
    # checkpoint at head: empty feed, schema intact
    head = read_keyed_changes(spark, keyed, since_seq=2)
    assert head.count() == 0 and "_change_op" in head.columns

    # a compaction keeps the folded batches feed-readable for
    # gc_generations further commits (tests/test_keyed_retention.py);
    # once a further publish retires them, seq numbering stays
    # monotonic (the hwm file), a head checkpoint stays valid, and a
    # stale one raises toward re-sync instead of silently aliasing
    # post-compaction batches
    compact_keyed_table(spark, keyed)
    assert read_keyed_changes(spark, keyed, since_seq=0).count() == 3
    compact_keyed_table(spark, keyed, rewrite_all=True)
    assert read_keyed_changes(spark, keyed, since_seq=2).count() == 0
    with pytest.raises(ValueError, match="compacted into the base"):
        read_keyed_changes(spark, keyed, since_seq=0)
    upsert_keyed_table(
        spark, keyed,
        spark.createDataFrame([(9, 99, "c")], "k long, v long, tag string"),
    )
    nxt = read_keyed_changes(spark, keyed, since_seq=2).collect()
    assert len(nxt) == 1 and nxt[0]._seq == 3, "seq continues past compaction"
    with pytest.raises(ValueError, match="compacted into the base"):
        read_keyed_changes(spark, keyed, since_seq=1)


def test_change_feed_empty_window_column_order(spark, tmp_path):
    """The empty-window frame must match the non-empty frame's column
    order (round-12 review: a positional union across feed polls would
    misalign when the key column is not the leading data column)."""
    from hadoop_20_warehouse_fix_spark.sources.keyed import (
        read_keyed_changes,
        write_keyed_table,
    )

    path = str(tmp_path / "t")
    df = spark.createDataFrame([(10, 1), (20, 2)], "v long, k long")  # key NOT leading
    write_keyed_table(df, path, ["k"], num_buckets=2)
    empty = read_keyed_changes(spark, path)
    upsert_keyed_table(spark, path, spark.createDataFrame([(11, 1)], "v long, k long"))
    full = read_keyed_changes(spark, path)
    assert empty.columns == full.columns == ["k", "v", "_change_op", "_seq"]
    raw_empty_cols = read_keyed_changes(spark, path, since_seq=1, resolve=False).columns
    raw_cols = read_keyed_changes(spark, path, resolve=False).columns
    assert raw_empty_cols == raw_cols == ["v", "k", "_change_op", "_seq"]


def test_reload_keeps_hwm_and_feed_contract(spark, keyed):
    """A re-load keeps seq numbering monotonic (hwm survives,
    delta_floor retires the old generation's pending deltas) so
    change-feed checkpoints from before the re-load raise toward
    re-sync instead of aliasing."""
    from hadoop_20_warehouse_fix_spark.sources.keyed import read_keyed_changes

    upsert_keyed_table(spark, keyed, _ups(spark, [(1, -1, "d1")]))
    upsert_keyed_table(spark, keyed, _ups(spark, [(2, -2, "d2")]))
    fresh = spark.range(10).select(
        F.col("id").alias("k"), F.lit(0).alias("v"), F.lit("g2").alias("tag")
    )
    write_keyed_table(fresh, keyed, ["k"], num_buckets=2)
    assert read_keyed_table(spark, keyed).count() == 10
    out = upsert_keyed_table(spark, keyed, _ups(spark, [(5, 55, "n")]))
    assert out["seq"] == 3, "seqs continue past the retired generation"
    nxt = read_keyed_changes(spark, keyed, since_seq=2).collect()
    assert len(nxt) == 1 and nxt[0]._seq == 3
    with pytest.raises(ValueError, match="compacted into the base"):
        read_keyed_changes(spark, keyed, since_seq=1)


def test_schema_evolution_additive_mor(spark, keyed):
    """Round-12 schema evolution: a MOR batch carries a NEW column —
    the schema evolves atomically before the delta commits, old rows
    read the column as NULL (explicit-schema readers), compaction folds
    the evolved schema into the touched buckets, later batches then
    carry the full evolved set, and the change feed sees the column."""
    from hadoop_20_warehouse_fix_spark.sources.keyed import (
        apply_changes_keyed_table,
        read_keyed_changes,
    )

    wide = spark.createDataFrame(
        [(1, 111, "e", 0.5), (20_001, 1, "ins", 0.9)],
        "k long, v long, tag string, score double",
    )
    # refused without the flag...
    with pytest.raises(ValueError, match="evolve_schema"):
        apply_changes_keyed_table(spark, keyed, wide)
    # ...and additive-only: dropping an existing column stays an error
    with pytest.raises(ValueError, match="ADDITIVE"):
        apply_changes_keyed_table(
            spark, keyed, wide.drop("tag"), evolve_schema=True
        )
    out = apply_changes_keyed_table(spark, keyed, wide, evolve_schema=True)
    assert out["upserts"] == 2
    meta = read_keyed_meta(spark, keyed)
    assert meta["data_cols"] == ["k", "v", "tag", "score"]
    tab = read_keyed_table(spark, keyed)
    assert tab.columns == ["k", "v", "tag", "score"]
    got = {r.k: (r.v, r.score) for r in tab.filter(F.col("k").isin(1, 2, 20_001)).collect()}
    assert got == {1: (111, 0.5), 2: (4, None), 20_001: (1, 0.9)}
    # the feed carries the evolved column too
    feed = {r.k: r.score for r in read_keyed_changes(spark, keyed).collect()}
    assert feed == {1: 0.5, 20_001: 0.9}
    # compaction folds the evolved schema into the base
    compact_keyed_table(spark, keyed)
    base_only = read_keyed_table(spark, keyed)
    assert base_only.filter("k = 1").first().score == 0.5
    assert base_only.count() == 10_001
    # lookups resolve evolved + old rows
    from hadoop_20_warehouse_fix_spark.sources.keyed import lookup_keys

    look = {r.k: r.score for r in lookup_keys(spark, keyed, [1, 2]).collect()}
    assert look == {1: 0.5, 2: None}
    # later batches require (and write) the full evolved set
    later = spark.createDataFrame([(2, 222, "c", 1.5)], "k long, v long, tag string, score double")
    upsert_keyed_table(spark, keyed, later)
    assert read_keyed_table(spark, keyed).filter("k = 2").first().score == 1.5


def test_schema_evolution_crash_window_reads_null(spark, keyed, monkeypatch):
    """Crash between the meta evolution and the delta commit: the
    evolved column exists and reads NULL everywhere — never a broken
    read; the retried batch lands normally."""
    from hadoop_20_warehouse_fix_spark.sources import keyed as K
    from hadoop_20_warehouse_fix_spark.sources.keyed import (
        apply_changes_keyed_table,
    )

    wide = spark.createDataFrame([(3, 333, "e", 7)], "k long, v long, tag string, n int")
    real = K._commit_delta

    def boom(*a, **kw):
        raise RuntimeError("crash after evolve, before delta")

    monkeypatch.setattr(K, "_commit_delta", boom)
    with pytest.raises(RuntimeError):
        apply_changes_keyed_table(spark, keyed, wide, evolve_schema=True)
    tab = read_keyed_table(spark, keyed)
    assert "n" in tab.columns and tab.filter("n is not null").count() == 0
    monkeypatch.setattr(K, "_commit_delta", real)
    apply_changes_keyed_table(spark, keyed, wide, evolve_schema=True)
    assert read_keyed_table(spark, keyed).filter("k = 3").first().n == 7


def test_stream_ingest_sequence_col_coalesces_files(spark, tmp_path):
    """Round-13 micro-batch coalescing: maxFilesPerTrigger=4 folds four
    landing files into ONE micro-batch whose keys collide across files;
    sequence_col resolves latest-change-per-key (Delta's SEQUENCE BY)
    before the append, so the uniqueness contract holds and the final
    table equals the sequential application of the four files."""
    from hadoop_20_warehouse_fix_spark.streaming import stream_keyed_upsert_ingest

    path = str(tmp_path / "tab")
    base = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"), F.lit("base").alias("tag")
    )
    write_keyed_table(base, path, ["k"], num_buckets=4)

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    # key 1 is touched by THREE files (upsert, delete, re-upsert);
    # key 2 by two (upsert then delete) — only sequence order decides
    files = [
        [(1, -1, "f0", "upsert", 0), (2, -2, "f0", "upsert", 0)],
        [(1, 0, "f1", "delete", 1), (3, -3, "f1", "upsert", 1)],
        [(1, -111, "f2", "upsert", 2), (2, 0, "f2", "delete", 2)],
        [(4, -4, "f3", "upsert", 3)],
    ]
    for i, rows in enumerate(files):
        spark.createDataFrame(
            rows, "k long, v long, tag string, op string, cdc_seq long"
        ).coalesce(1).write.parquet(f"{landing}/f{i}")

    sdf = (
        spark.readStream.schema("k long, v long, tag string, op string, cdc_seq long")
        .option("maxFilesPerTrigger", 4)
        .option("recursiveFileLookup", "true")
        .parquet(landing)
    )
    stream_keyed_upsert_ingest(
        sdf, path, str(tmp_path / "ckpt"), op_col="op", sequence_col="cdc_seq"
    )
    tab = read_keyed_table(spark, path)
    got = {(r.k, r.v, r.tag) for r in tab.filter(F.col("k").isin(1, 2, 3, 4)).collect()}
    # k=1 re-upserted after its delete; k=2 deleted last; 3,4 inserted
    assert got == {(1, -111, "f2"), (3, -3, "f1"), (4, -4, "f3")}
    # keys 1-4 all pre-exist in the 100-row base; only k=2 ends deleted
    assert tab.count() == 99


def test_stream_ingest_without_sequence_col_refuses_cross_file_dupes(spark, tmp_path):
    """Without sequence_col the one-op-per-key contract stays enforced:
    coalescing files that touch the same key fails loudly instead of
    picking an arbitrary winner."""
    from hadoop_20_warehouse_fix_spark.streaming import stream_keyed_upsert_ingest

    path = str(tmp_path / "tab")
    base = spark.range(10).select(
        F.col("id").alias("k"), F.lit(0).cast("long").alias("v"), F.lit("b").alias("tag")
    )
    write_keyed_table(base, path, ["k"], num_buckets=2)
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    for i in range(2):
        spark.createDataFrame(
            [(1, -i, f"f{i}", "upsert")], "k long, v long, tag string, op string"
        ).coalesce(1).write.parquet(f"{landing}/f{i}")
    sdf = (
        spark.readStream.schema("k long, v long, tag string, op string")
        .option("maxFilesPerTrigger", 2)
        .option("recursiveFileLookup", "true")
        .parquet(landing)
    )
    import pyspark.errors

    with pytest.raises(pyspark.errors.exceptions.captured.StreamingQueryException,
                       match="duplicate keys"):
        stream_keyed_upsert_ingest(sdf, path, str(tmp_path / "ckpt"), op_col="op")


def test_every_write_corner_appends_and_matches_fold(spark):
    """Every upsert and delete is one delta append — on both layouts,
    with or without a pending delta, idempotency key or schema
    evolution, key-local or scattered over every bucket — so every
    corner adds exactly one committed seq dir, leaves the base files as
    they were, and reads back as the plain dict fold of the writes."""
    from hadoop_20_warehouse_fix_spark.sources.keyed import (
        _delta_seq_dirs,
        apply_changes_keyed_table,
    )

    def keys_df(keys):
        return spark.createDataFrame([(k,) for k in keys], "k long")

    local = list(range(1_000, 1_050)) + [6_450]  # 2 of 64 range buckets
    scattered = list(range(0, 6_400, 100)) + list(range(50, 6_400, 200))  # 64 of 64
    # (layout, pre-write pending delta?, batch keys, delete?, extra kwargs)
    cases = [
        ("hash", False, local, False, {}),
        ("hash", False, local, True, {}),
        ("range", False, local, False, {}),
        ("range", False, local, True, {}),
        ("range", False, scattered, False, {}),
        ("range", False, scattered, True, {}),
        ("range", True, local, False, {}),
        ("range", True, local, True, {}),
        ("range", False, local, False, {"idempotency_key": "b1"}),
        ("range", False, local, False, {"evolve_schema": True}),
    ]
    for i, (layout, pending, keys, delete, kw) in enumerate(cases):
        tmp = tempfile.mkdtemp(prefix="keyed_pick_")
        path = f"{tmp}/tab"
        try:
            base = spark.range(6_400).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("v"), F.lit("base").alias("tag")
            )
            if layout == "hash":
                write_keyed_table(base, path, ["k"], num_buckets=64)
            else:
                write_keyed_table(base, path, ["k"], layout="range", range_step=100)
            fold = {k: (2 * k, "base") for k in range(6_400)}
            if pending:
                apply_changes_keyed_table(spark, path, _ups(spark, [(keys[0], -7, "pre")]))
                fold[keys[0]] = (-7, "pre")
            files = _bucket_files(spark, path)
            n_deltas = len(_delta_seq_dirs(spark, path))
            if delete:
                out = delete_from_keyed_table(spark, path, keys_df(keys), **kw)
                for k in keys:
                    fold.pop(k, None)
            else:
                out = upsert_keyed_table(
                    spark, path, _ups(spark, [(k, -k, f"w{i}") for k in keys]), **kw
                )
                fold.update({k: (-k, f"w{i}") for k in keys})
            assert out["rows"] == len(keys), (i, out)
            assert len(_delta_seq_dirs(spark, path)) == n_deltas + 1, i
            assert _bucket_files(spark, path) == files, i
            got = {
                (r.k, r.v, r.tag)
                for r in read_keyed_table(spark, path).select("k", "v", "tag").collect()
            }
            assert got == {(k, v, tag) for k, (v, tag) in fold.items()}, i
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


def _assert_writes_run_the_apply_jobs(spark, path):
    """upsert, delete and apply_changes run the same jobs: 1 for a
    trusted batch, 2 for a validated one (the key-uniqueness window's
    exchange runs as its own job under adaptive execution)."""
    from hadoop_20_warehouse_fix_spark.sources.keyed import apply_changes_keyed_table

    batch = _ups(spark, [(1, -1, "j"), (20_001, 5, "j")])
    keys = spark.createDataFrame([(2,), (3,)], "k long")
    writes = {
        "apply": lambda trusted: apply_changes_keyed_table(
            spark, path, batch, assume_unique=trusted
        ),
        "upsert": lambda trusted: upsert_keyed_table(
            spark, path, batch, assume_unique=trusted
        ),
        "delete": lambda trusted: delete_from_keyed_table(
            spark, path, keys, assume_unique=trusted
        ),
    }
    for name, write in writes.items():
        for trusted, want in ((True, 1), (False, 2)):
            out, n = count_jobs(spark, lambda: write(trusted))
            assert out["rows"] == 2 and n == want, (name, trusted, n)
    tab = read_keyed_table(spark, path)
    assert tab.filter("tag = 'j'").count() == 2 and tab.filter("k in (2, 3)").count() == 0


def test_hash_upsert_runs_only_the_append_jobs(spark, keyed):
    """A hash-table upsert or delete is one append whose validation
    rides the delta write, pinned through a per-call job group."""
    _assert_writes_run_the_apply_jobs(spark, keyed)


def test_range_writes_run_only_the_append_jobs(spark, ranged):
    """A range-table upsert or delete runs the same jobs as on a hash
    table: the NULL-bucket check rides the append's observation."""
    _assert_writes_run_the_apply_jobs(spark, ranged)


def _assert_feed_returns_every_batch(spark, path):
    from hadoop_20_warehouse_fix_spark.sources.keyed import (
        apply_changes_keyed_table,
        read_keyed_changes,
    )

    ckpt = apply_changes_keyed_table(spark, path, _ups(spark, [(1, -1, "a")]))["seq"]
    compact_keyed_table(spark, path)
    upsert_keyed_table(spark, path, _ups(spark, [(k, -k, "u1") for k in range(100, 110)]))
    delete_from_keyed_table(
        spark, path, spark.createDataFrame([(k,) for k in range(200, 205)], "k long")
    )
    upsert_keyed_table(spark, path, _ups(spark, [(k, -k, "u2") for k in range(300, 305)]))
    got = {r.k: r._change_op for r in read_keyed_changes(spark, path, since_seq=ckpt).collect()}
    want = {k: "upsert" for k in [*range(100, 110), *range(300, 305)]}
    want.update({k: "delete" for k in range(200, 205)})
    assert got == want


def test_change_feed_returns_every_hash_batch(spark, keyed):
    """A checkpointed consumer reads back every key changed after its
    checkpoint: every upsert and delete is appended, so the feed
    carries all of them."""
    _assert_feed_returns_every_batch(spark, keyed)


def test_change_feed_returns_every_range_batch(spark, ranged):
    """The same on a range table: key-local upserts and deletes are
    appended too, so none is missing from the feed."""
    _assert_feed_returns_every_batch(spark, ranged)


def test_change_feed_raises_past_a_cow_batch(spark, ranged):
    """A table whose manifest meta already records a ``cow_seq`` (a
    batch an earlier version rewrote in place, never fed) still raises
    for a checkpoint below it instead of silently skipping that batch;
    a consumer that re-synced at that seq reads on from there."""
    import hadoop_20_warehouse_fix_spark.sources.keyed as K

    ckpt = K.apply_changes_keyed_table(spark, ranged, _ups(spark, [(1, -1, "a")]))["seq"]
    compact_keyed_table(spark, ranged)
    cow_seq = ckpt + 1
    with K._writer_lease(spark, ranged, K.DEFAULT_LOCK_TTL_SEC):
        K._write_seq_hwm(spark, ranged, cow_seq)
        meta = dict(read_keyed_meta(spark, ranged), cow_seq=cow_seq)
        K._marker_publish(spark, ranged, f"{ranged}/_staging", [], meta=meta)
    with pytest.raises(ValueError, match="rewritten in place"):
        K.read_keyed_changes(spark, ranged, since_seq=ckpt)
    nxt = K.apply_changes_keyed_table(spark, ranged, _ups(spark, [(5, -5, "n")]))
    assert nxt["seq"] == cow_seq + 1
    assert [r.k for r in K.read_keyed_changes(spark, ranged, since_seq=cow_seq).collect()] == [5]
    # a compaction carries the recorded seq forward in the meta
    compact_keyed_table(spark, ranged)
    with pytest.raises(ValueError, match="rewritten in place"):
        K.read_keyed_changes(spark, ranged, since_seq=ckpt)


def test_append_refuses_null_bucket_rows(spark, tmp_path):
    """A range-layout append refuses a NULL leading key, under
    assume_unique too: committed, the row read back but crashed every
    later compaction of the table."""
    from hadoop_20_warehouse_fix_spark.sources.keyed import apply_changes_keyed_table

    path = str(tmp_path / "t")
    df = spark.range(100).select(F.col("id").alias("k"), F.lit(1).cast("long").alias("v"))
    write_keyed_table(df, path, ["k"], layout="range", range_step=10)
    bad = spark.createDataFrame([(None, 5), (3, 33)], "k long, v long")
    with pytest.raises(ValueError, match="NULL bucket id"):
        apply_changes_keyed_table(spark, path, bad, assume_unique=True)
    with pytest.raises(ValueError, match="NULL bucket id"):
        upsert_keyed_table(spark, path, bad, assume_unique=True)
    with pytest.raises(ValueError, match="NULL bucket id"):
        upsert_keyed_table(spark, path, bad, assume_unique=True, idempotency_key="b1")
    with pytest.raises(ValueError, match="NULL"):
        upsert_keyed_table(spark, path, bad)  # the checked path refuses too
    assert read_keyed_table(spark, path).count() == 100
    assert compact_keyed_table(spark, path) == {"touched_buckets": [], "deltas_folded": 0}
