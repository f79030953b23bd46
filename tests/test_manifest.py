"""File-stats manifest + planning-time file pruning (round 11).

The contract under test: pruning may only drop files the predicate
PROVABLY cannot match — every read_pruned result must be row-identical
to the unpruned scan + filter, while the kept-file count shows the
skipping actually happened on a clustered layout.
"""

from __future__ import annotations

import datetime
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from hadoop_20_warehouse_fix_spark.operators.sort import write_zordered
from hadoop_20_warehouse_fix_spark.sources.manifest import (
    manifest_kept_files,
    read_pruned,
    write_file_stats_manifest,
)


@pytest.fixture(scope="module")
def ztable(spark):
    """50k rows z-ordered on (x, y) into 16 files, with a string, a
    date, and an all-NULL double column riding along."""
    tmp = tempfile.mkdtemp(prefix="manifest_")
    path = f"{tmp}/ztab"
    df = spark.range(50_000).select(
        (F.col("id") % 512).alias("x"),
        ((F.col("id") * 37) % 512).alias("y"),
        F.md5(F.col("id").cast("string")).alias("s"),
        F.date_add(F.lit("2024-01-01").cast("date"), (F.col("id") % 365).cast("int")).alias("d"),
        F.lit(None).cast("double").alias("n"),
        F.col("id").alias("payload"),
    )
    write_zordered(df, path, ["x", "y"], bits=9, num_files=16)
    mpath = write_file_stats_manifest(spark, path)
    yield path, mpath
    shutil.rmtree(tmp, ignore_errors=True)


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_pruned_scan_equals_full_filter_and_skips_files(spark, ztable):
    path, mpath = ztable
    full = spark.read.parquet(path)
    preds = {"x": (10, 40), "y": (100, 160)}
    got = read_pruned(spark, path, preds)
    want = full.filter((F.col("x") >= 10) & (F.col("x") <= 40) & (F.col("y") >= 100) & (F.col("y") <= 160))
    assert _rows(got) == _rows(want) and got.count() > 0
    kept, total = manifest_kept_files(spark, mpath, preds)
    # the point of the z-layout: a small box touches few of the 16 files
    assert total == 16 and 0 < len(kept) < total


def test_equality_string_and_date_predicates(spark, ztable):
    path, _ = ztable
    full = spark.read.parquet(path)
    got = read_pruned(spark, path, {"x": 7})  # bare value = equality
    assert _rows(got) == _rows(full.filter(F.col("x") == 7))
    lo, hi = "a", "c"
    got_s = read_pruned(spark, path, {"s": (lo, hi)})
    assert _rows(got_s) == _rows(full.filter((F.col("s") >= lo) & (F.col("s") <= hi)))
    d0, d1 = datetime.date(2024, 3, 1), datetime.date(2024, 3, 10)
    got_d = read_pruned(spark, path, {"d": (d0, d1)})
    assert _rows(got_d) == _rows(full.filter((F.col("d") >= F.lit(d0)) & (F.col("d") <= F.lit(d1))))


def test_all_null_column_never_prunes_wrongly(spark, ztable):
    """NULL stats (the all-NULL column has no min/max) must keep every
    file, and the re-applied filter still makes the answer exact."""
    path, mpath = ztable
    kept, total = manifest_kept_files(spark, mpath, {"n": (0.0, 1.0)})
    assert len(kept) == total  # conservative: nothing provably excluded
    assert read_pruned(spark, path, {"n": (0.0, 1.0)}).count() == 0  # exact


def test_fully_pruned_read_keeps_schema(spark, ztable):
    path, _ = ztable
    out = read_pruned(spark, path, {"x": (10_000, None)})
    assert out.count() == 0
    assert out.schema == spark.read.parquet(path).schema


def test_open_ended_and_errors(spark, ztable):
    path, mpath = ztable
    full = spark.read.parquet(path)
    got = read_pruned(spark, path, {"x": (500, None)})
    assert _rows(got) == _rows(full.filter(F.col("x") >= 500))
    with pytest.raises(ValueError, match="no stats"):
        manifest_kept_files(spark, mpath, {"zzz": (0, 1)})  # not manifested
    with pytest.raises(ValueError, match="no bounds"):
        manifest_kept_files(spark, mpath, {"x": (None, None)})
    with pytest.raises(ValueError, match="not in table schema"):
        write_file_stats_manifest(spark, path, cols=["nope"])


def test_table_under_hidden_ancestor_dir(spark):
    """Round-11 review: only segments BELOW the table root are
    hidden-filtered — a table living under /_lake/... must manifest."""
    tmp = tempfile.mkdtemp(prefix="manifest_anc_")
    path = f"{tmp}/_lake/.cache/tab"
    try:
        spark.range(100).select(F.col("id").alias("v")).coalesce(1).write.parquet(path)
        mpath = write_file_stats_manifest(spark, path, cols=["v"], manifest_path=f"{tmp}/m")
        assert spark.read.parquet(mpath).count() == 1
        assert read_pruned(spark, path, {"v": (10, 20)}, manifest_path=mpath).count() == 11
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_manifest_on_partitioned_layout(spark):
    """Recursive listing: a partitionBy directory layout manifests every
    leaf file and pruning stays exact."""
    tmp = tempfile.mkdtemp(prefix="manifest_part_")
    path = f"{tmp}/ptab"
    try:
        df = spark.range(5_000).select(
            (F.col("id") % 4).alias("p"), (F.col("id") % 100).alias("v")
        )
        df.write.partitionBy("p").mode("overwrite").parquet(path)
        mpath = write_file_stats_manifest(spark, path, cols=["v"])
        full = spark.read.parquet(path)
        got = read_pruned(spark, path, {"v": (10, 20)})
        want = full.filter((F.col("v") >= 10) & (F.col("v") <= 20))
        assert {(r.v, r.p) for r in got.collect()} == {(r.v, r.p) for r in want.collect()}
        kept, total = manifest_kept_files(spark, mpath, {"v": (10, 20)})
        assert total >= 4 and len(kept) == total  # v spans every file: no skip, no loss
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_refresh_manifest_incremental(spark):
    """Appended files get footer-read, vanished files get dropped,
    untouched rows survive verbatim, and pruning stays exact through
    the whole lifecycle."""
    import os

    from hadoop_20_warehouse_fix_spark.sources.manifest import (
        refresh_file_stats_manifest,
    )

    tmp = tempfile.mkdtemp(prefix="manifest_inc_")
    path = f"{tmp}/tab"
    try:
        df1 = spark.range(1_000).select((F.col("id") % 50).alias("v"))
        df1.coalesce(2).write.parquet(path)
        # first refresh with no manifest = the full build
        diag = refresh_file_stats_manifest(spark, path)
        assert diag["added"] == 2 and diag["removed"] == 0
        # append a batch with a DISJOINT value range
        spark.range(1_000).select((F.col("id") % 50 + 1_000).alias("v")).coalesce(
            2
        ).write.mode("append").parquet(path)
        diag = refresh_file_stats_manifest(spark, path)
        assert diag == {"added": 2, "removed": 0, "kept": 2, "total": 4}
        kept, total = manifest_kept_files(spark, f"{path}/_stats_manifest", {"v": (1_000, None)})
        assert total == 4 and len(kept) == 2  # only the appended files qualify
        got = read_pruned(spark, path, {"v": (1_000, None)})
        assert got.count() == 1_000
        # simulate a compaction: remove one ORIGINAL-batch file (pick it
        # by its stats — part-file names don't encode the batch), refresh
        m = spark.read.parquet(f"{path}/_stats_manifest")
        victim = m.filter(F.col("max_v") < 1_000).select("file").first().file
        os.remove(victim)
        diag = refresh_file_stats_manifest(spark, path)
        assert diag["removed"] == 1 and diag["added"] == 0 and diag["total"] == 3
        # idempotent no-change refresh
        assert refresh_file_stats_manifest(spark, path) == {
            "added": 0, "removed": 0, "kept": 3, "total": 3,
        }
        assert read_pruned(spark, path, {"v": (1_000, None)}).count() == 1_000
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_typed_columns_timestamp_decimal_nan(spark):
    """Type-edge pins: timestamps prune exactly; DECIMAL stats are
    uncastable in this pyarrow (ArrowNotImplementedError despite
    has_min_max — found live) so every file is conservatively kept and
    the answer stays exact; a NaN-bearing double column stays exact."""
    import datetime
    import decimal as dec

    tmp = tempfile.mkdtemp(prefix="manifest_typed_")
    path = f"{tmp}/t"
    try:
        df = spark.range(10_000).select(
            F.col("id").alias("k"),
            F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id") * 60).alias("ts"),
            (F.col("id").cast("decimal(12,2)") / 7).alias("d"),
            F.when(F.col("id") % 100 == 0, float("nan"))
            .otherwise(F.col("id") * 1.5)
            .alias("dbl"),
        )
        df.repartition(4, "k").sortWithinPartitions("k").write.parquet(path)
        mpath = write_file_stats_manifest(spark, path)
        full = spark.read.parquet(path)

        t0 = datetime.datetime(2023, 11, 14, 22, 13, 20)
        t1 = t0 + datetime.timedelta(hours=1)
        got = read_pruned(spark, path, {"ts": (t0, t1)})
        want = full.filter((F.col("ts") >= F.lit(t0)) & (F.col("ts") <= F.lit(t1)))
        assert got.count() == want.count() == 61

        lo, hi = dec.Decimal("100.00"), dec.Decimal("200.00")
        kept, total = manifest_kept_files(spark, mpath, {"d": (lo, hi)})
        assert len(kept) == total  # uncastable stats: keep everything
        got_d = read_pruned(spark, path, {"d": (lo, hi)})
        want_d = full.filter((F.col("d") >= lo) & (F.col("d") <= hi))
        assert got_d.count() == want_d.count() > 0

        got_n = read_pruned(spark, path, {"dbl": (0.0, 10.0)})
        want_n = full.filter((F.col("dbl") >= 0.0) & (F.col("dbl") <= 10.0))
        assert got_n.count() == want_n.count() > 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_manifest_explicit_cols_only(spark, ztable):
    path, _ = ztable
    import tempfile as tf

    with tf.TemporaryDirectory() as td:
        mpath = write_file_stats_manifest(spark, path, cols=["x"], manifest_path=f"{td}/m")
        m = spark.read.parquet(mpath)
        assert {"file", "num_rows", "bytes", "min_x", "max_x", "nulls_x"} == set(m.columns)
        assert m.count() == 16
        assert m.agg(F.sum("num_rows")).first()[0] == 50_000


def test_refresh_on_emptied_table_writes_empty_manifest(spark):
    # Round-11 ADVICE #3: a compaction that tombstones every remaining
    # row used to make refresh raise AFTER the compact committed,
    # stranding a stale manifest full of dead paths.
    from hadoop_20_warehouse_fix_spark.sources.keyed import (
        compact_keyed_table,
        delete_from_keyed_table,
        write_keyed_table,
    )
    from hadoop_20_warehouse_fix_spark.sources.manifest import (
        refresh_file_stats_manifest,
    )

    tmp = tempfile.mkdtemp(prefix="manifest_empty_")
    try:
        path = f"{tmp}/t"
        df = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
        write_keyed_table(df, path, ["k"], num_buckets=4)
        mpath = write_file_stats_manifest(spark, path)
        n_files = spark.read.parquet(mpath).count()
        assert n_files >= 1
        delete_from_keyed_table(spark, path, df.select("k"))
        compact_keyed_table(spark, path)
        out = refresh_file_stats_manifest(spark, path)
        assert out == {"added": 0, "removed": n_files, "kept": 0, "total": 0}
        assert spark.read.parquet(mpath).count() == 0
        # and the refresh is idempotent on the empty state
        out2 = refresh_file_stats_manifest(spark, path)
        assert out2 == {"added": 0, "removed": 0, "kept": 0, "total": 0}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_read_pruned_refuses_pending_mor_deltas(spark):
    # Round-11 ADVICE #5: the manifest covers only base files, so a
    # pruned read over a keyed table with pending deltas would silently
    # return stale/resurrected rows. Every upsert on a hash layout is an
    # append, so the refusal holds until the next compaction.
    from hadoop_20_warehouse_fix_spark.sources.keyed import (
        compact_keyed_table,
        upsert_keyed_table,
        write_keyed_table,
    )
    from hadoop_20_warehouse_fix_spark.sources.manifest import (
        refresh_file_stats_manifest,
    )

    tmp = tempfile.mkdtemp(prefix="manifest_mor_")
    try:
        path = f"{tmp}/t"
        df = spark.range(1_000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
        write_keyed_table(df, path, ["k"], num_buckets=4)
        write_file_stats_manifest(spark, path)
        batch = spark.createDataFrame([(5, 999)], "k long, v long")
        assert upsert_keyed_table(spark, path, batch)["seq"] == 1
        with pytest.raises(ValueError, match="pending MOR deltas"):
            read_pruned(spark, path, {"k": (0, 10)})
        compact_keyed_table(spark, path)
        refresh_file_stats_manifest(spark, path)
        got = {tuple(r) for r in read_pruned(spark, path, {"k": (0, 10)}).select("k", "v").collect()}
        want = {(i, i * 3) for i in range(11)} - {(5, 15)} | {(5, 999)}
        assert got == want
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_default_writes_refuse_pruned_read_until_compact_refresh(spark):
    # Every default upsert and delete leaves a pending delta on either
    # layout, so read_pruned refuses the table until
    # compact_keyed_table(refresh_manifest=True) folds the deltas and
    # refreshes the stats manifest in one call.
    from hadoop_20_warehouse_fix_spark.sources.keyed import (
        compact_keyed_table,
        delete_from_keyed_table,
        upsert_keyed_table,
        write_keyed_table,
    )

    tmp = tempfile.mkdtemp(prefix="manifest_default_")
    try:
        df = spark.range(1_000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
        layouts = {"hash": {"num_buckets": 4}, "range": {"layout": "range", "range_step": 100}}
        for name, layout in layouts.items():
            path = f"{tmp}/{name}"
            write_keyed_table(df, path, ["k"], **layout)
            write_file_stats_manifest(spark, path)
            upsert_keyed_table(spark, path, spark.createDataFrame([(5, 999)], "k long, v long"))
            with pytest.raises(ValueError, match="pending MOR deltas"):
                read_pruned(spark, path, {"k": (0, 10)})
            delete_from_keyed_table(spark, path, spark.createDataFrame([(6,)], "k long"))
            with pytest.raises(ValueError, match="pending MOR deltas"):
                read_pruned(spark, path, {"k": (0, 10)})
            assert compact_keyed_table(spark, path, refresh_manifest=True)["manifest"]
            got = {tuple(r) for r in read_pruned(spark, path, {"k": (0, 10)}).select("k", "v").collect()}
            want = {(i, i * 3) for i in range(11)} - {(5, 15), (6, 18)} | {(5, 999)}
            assert got == want, name
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_refresh_changed_dirs_equals_full_reconcile(spark):
    # Round-12 brief #4: a writer-declared changed-dir refresh must
    # produce the byte-identical manifest a full reconciliation does,
    # while never listing outside the declared dirs.
    from hadoop_20_warehouse_fix_spark.sources.keyed import (
        _current_commit,
        compact_keyed_table,
        upsert_keyed_table,
        write_keyed_table,
    )
    from hadoop_20_warehouse_fix_spark.sources.manifest import (
        refresh_file_stats_manifest,
    )

    tmp = tempfile.mkdtemp(prefix="manifest_cd_")
    try:
        a, b = f"{tmp}/a", f"{tmp}/b"  # twin tables, same content
        df = spark.range(5_000).select(
            F.col("id").alias("k"), (F.col("id") * 7 % 997).alias("v")
        )
        for path in (a, b):  # range layout: 20 buckets of 250 keys
            write_keyed_table(df, path, ["k"], layout="range", range_step=250)
            write_file_stats_manifest(spark, path, cols=["k", "v"])
        dirs_before = _current_commit(spark, b)["buckets"]
        batch = spark.range(40).select(  # keys 1000..1390: buckets 4 and 5
            (F.col("id") * 10 + 1_000).alias("k"), F.lit(-1).alias("v")
        )
        outs = {}
        for path in (a, b):
            upsert_keyed_table(spark, path, batch)
            outs[path] = compact_keyed_table(spark, path)
        touched = outs[a]["touched_buckets"]
        assert touched == outs[b]["touched_buckets"] == [4, 5]
        dirs_after = _current_commit(spark, b)["buckets"]
        # the churn a compaction declares: each touched bucket's
        # superseded versioned dir and its newly published one
        churn = sorted(
            {f"{b}/{dirs_before[str(t)]}" for t in touched}
            | {f"{b}/{dirs_after[str(t)]}" for t in touched if str(t) in dirs_after}
        )
        r_full = refresh_file_stats_manifest(spark, a)
        r_dirs = refresh_file_stats_manifest(spark, b, changed_dirs=churn)
        assert r_full == r_dirs
        assert r_full["added"] > 0 and r_full["removed"] > 0

        def canon(path, root):
            m = spark.read.parquet(f"{path}/_stats_manifest")
            drop_file = [c for c in m.columns if c != "file"]
            rows = {
                (r["file"].split(root)[-1].rsplit("/", 1)[0],)  # bucket dir
                + tuple(r[c] for c in sorted(drop_file))
                for r in m.collect()
            }
            return rows

        # identical stats per bucket dir (file NAMES differ between the
        # twin tables — Spark's part-file uuids — so compare by dir)
        assert canon(a, "/a/") == canon(b, "/b/")

        # changed_dirs outside the table refuse
        with pytest.raises(ValueError, match="not under table_path"):
            refresh_file_stats_manifest(spark, b, changed_dirs=[tmp])
        # declaring an untouched dir is harmless (no-op rows kept)
        r_noop = refresh_file_stats_manifest(
            spark, b, changed_dirs=[f"{b}/{dirs_after[str(touched[0])]}"]
        )
        assert r_noop["added"] == 0 and r_noop["removed"] == 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_compact_refresh_declares_touched_dirs(spark):
    # compact(refresh_manifest=True) now rides the changed-dirs path;
    # the pruned read over the refreshed manifest stays exact.
    from hadoop_20_warehouse_fix_spark.sources.keyed import (
        compact_keyed_table,
        delete_from_keyed_table,
        upsert_keyed_table,
        write_keyed_table,
    )

    tmp = tempfile.mkdtemp(prefix="manifest_cdc_")
    try:
        path = f"{tmp}/t"
        df = spark.range(2_000).select(F.col("id").alias("k"), (F.col("id") % 50).alias("v"))
        write_keyed_table(df, path, ["k"], num_buckets=8)
        write_file_stats_manifest(spark, path, cols=["k"])
        upsert_keyed_table(
            spark,
            path,
            spark.createDataFrame([(3, -1), (2_500, -2)], "k long, v long"),
        )
        delete_from_keyed_table(
            spark, path, spark.createDataFrame([(10,)], "k long")
        )
        out = compact_keyed_table(spark, path, refresh_manifest=True)
        assert out["manifest"]["added"] == len(out["touched_buckets"])
        got = {tuple(r) for r in read_pruned(spark, path, {"k": (0, 20)}).select("k", "v").collect()}
        want = {(i, i % 50) for i in range(21)} - {(3, 3), (10, 10)} | {(3, -1)}
        assert got == want
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_manifest_on_marker_commit_keyed_table(spark):
    """Round-12 composition: the stats manifest resolves marker-commit
    keyed tables through the commit manifest — build, pruned read,
    compaction churn + full refresh (with grace-retained superseded
    dirs on disk), and a declared-dirs refresh riding a compaction."""
    from hadoop_20_warehouse_fix_spark.sources.keyed import (
        apply_changes_keyed_table,
        compact_keyed_table,
        upsert_keyed_table,
        write_keyed_table,
    )
    from hadoop_20_warehouse_fix_spark.sources.manifest import (
        refresh_file_stats_manifest,
    )

    tmp = tempfile.mkdtemp(prefix="manifest_marker_")
    try:
        path = f"{tmp}/t"
        df = spark.range(4_000).select(
            F.col("id").alias("k"), (F.col("id") % 97).alias("v")
        )
        write_keyed_table(  # range layout: 16 buckets of 250 keys
            df, path, ["k"], layout="range", range_step=250, sort_cols=["k"]
        )
        mpath = write_file_stats_manifest(spark, path, cols=["k", "v"])
        m = spark.read.parquet(mpath)
        assert m.count() >= 8 and m.agg(F.sum("num_rows")).first()[0] == 4_000

        got = {tuple(r) for r in read_pruned(spark, path, {"k": (100, 120)}).collect()}
        assert got == {(i, i % 97) for i in range(100, 121)}

        # compaction churn; superseded version dirs LINGER (grace) —
        # the refresh must not resurrect their files
        upsert_keyed_table(
            spark,
            path,
            spark.createDataFrame([(110, -1), (5_000, -2)], "k long, v long"),
        )
        compact_keyed_table(spark, path)
        r = refresh_file_stats_manifest(spark, path)
        assert r["added"] > 0 and r["removed"] > 0
        m2 = spark.read.parquet(mpath)
        assert m2.agg(F.sum("num_rows")).first()[0] == 4_001
        got2 = {tuple(r) for r in read_pruned(spark, path, {"k": (100, 120)}).collect()}
        assert got2 == ({(i, i % 97) for i in range(100, 121)} - {(110, 110 % 97)}) | {(110, -1)}

        # MOR + compact(refresh_manifest=True): declared versioned dirs
        apply_changes_keyed_table(
            spark, path, spark.createDataFrame([(7, -7)], "k long, v long")
        )
        with pytest.raises(ValueError, match="pending MOR deltas"):
            read_pruned(spark, path, {"k": (0, 10)})
        outc = compact_keyed_table(spark, path, refresh_manifest=True)
        assert outc["manifest"]["added"] >= 1
        got3 = {tuple(r) for r in read_pruned(spark, path, {"k": (0, 10)}).collect()}
        assert got3 == ({(i, i % 97) for i in range(11)} - {(7, 7)}) | {(7, -7)}
        # totals stay exact after every refresh
        assert spark.read.parquet(mpath).agg(F.sum("num_rows")).first()[0] == 4_001
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
