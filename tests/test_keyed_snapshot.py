"""Reader snapshot safety during writes (round 13, #5).

Readers resolve bucket dirs only through the commit manifest, and a
superseded generation's dirs survive ``gc_generations`` further
commits — so a reader never observes a half-published batch or a
mix of generations. Pinned here with a threaded reader-during-re-load
storm (a re-load is the publish that rewrites every bucket at once).
Folded delta dirs follow the same rule: a frame planned before a
compaction or re-load still finds every delta file it listed.
"""

from __future__ import annotations

import shutil
import tempfile
import threading

from pyspark.sql import functions as F

import hadoop_20_warehouse_fix_spark.sources.keyed as K


def _cleanup(path):
    shutil.rmtree(path.rsplit("/", 1)[0], ignore_errors=True)


def test_marker_readers_never_torn_during_cow_storm(spark):
    """Threaded done-gate: readers hammer a marker table while
    re-loads continuously swap buckets. Every read must see a complete,
    internally-consistent snapshot: exactly 500 rows, and v uniform
    across the whole table (each re-load rewrites EVERY key to the same
    new value, so a mixed-generation read shows two v values)."""
    tmp = tempfile.mkdtemp(prefix="keyed_snap_storm_")
    path = f"{tmp}/tab"
    base = spark.range(500).select(
        F.col("id").alias("k"), F.lit(0).cast("long").alias("v"),
        F.lit("base").alias("tag"),
    )
    K.write_keyed_table(base, path, ["k"], layout="range", range_step=125)
    try:
        errors: list[str] = []
        stop = threading.Event()

        def reader():
            while not stop.is_set():
                try:
                    rows = K.read_keyed_table(spark, path).groupBy("v").count().collect()
                    total = sum(r["count"] for r in rows)
                    if total != 500:
                        errors.append(f"saw {total} rows")
                    if len(rows) != 1:
                        errors.append(f"mixed generations: {rows}")
                except Exception as exc:  # noqa: BLE001
                    errors.append(f"reader crashed: {exc}")

        threads = [threading.Thread(target=reader) for _ in range(2)]
        for t in threads:
            t.start()
        try:
            for gen in range(1, 6):
                batch = spark.range(500).select(
                    F.col("id").alias("k"),
                    F.lit(gen * 1000).cast("long").alias("v"),
                    F.lit("s").alias("tag"),
                )
                K.write_keyed_table(
                    batch, path, ["k"], assume_unique=True, layout="range",
                    range_step=125,
                )
        finally:
            stop.set()
            for t in threads:
                t.join()
        assert not errors, errors[:5]
    finally:
        _cleanup(path)


def _range_table(spark, prefix):
    tmp = tempfile.mkdtemp(prefix=prefix)
    path = f"{tmp}/tab"
    base = spark.range(500).select(
        F.col("id").alias("k"), F.lit(0).cast("long").alias("v"),
        F.lit("base").alias("tag"),
    )
    K.write_keyed_table(base, path, ["k"], layout="range", range_step=125)
    return path


def _pending_frame(spark, path):
    """A read planned over two pending deltas, and its rows as of now."""
    for v in (7, 8):
        K.upsert_keyed_table(
            spark, path,
            spark.range(0, 500, 3).select(
                F.col("id").alias("k"), F.lit(v).cast("long").alias("v"),
                F.lit("d").alias("tag"),
            ),
            assume_unique=True,
        )
    frame = K.read_keyed_table(spark, path)
    return frame, sorted(tuple(r) for r in K.read_keyed_table(spark, path).collect())


def test_frame_planned_before_compaction_reads_after_flip(spark):
    """The frame lists the pending delta files when it is built; the
    compaction folds them and flips the manifest before ``collect()``.
    The folded seq dirs stay on disk, so the frame returns exactly the
    pre-compaction rows (moving them at the flip raised
    FAILED_READ_FILE.FILE_NOT_EXIST)."""
    path = _range_table(spark, "keyed_snap_fold_")
    try:
        frame, before = _pending_frame(spark, path)
        assert K.compact_keyed_table(spark, path)["deltas_folded"] == 2
        assert sorted(tuple(r) for r in frame.collect()) == before
        assert sorted(tuple(r) for r in K.read_keyed_table(spark, path).collect()) == before
    finally:
        _cleanup(path)


def test_frame_planned_before_reload_reads_after_flip(spark):
    """The same with a re-load as the publish: its delta_floor retires
    the old generation's deltas from live reads, but their dirs stay
    while the manifest that read them is retained."""
    path = _range_table(spark, "keyed_snap_reload_")
    try:
        frame, before = _pending_frame(spark, path)
        fresh = spark.range(500).select(
            F.col("id").alias("k"), F.lit(9).cast("long").alias("v"),
            F.lit("r").alias("tag"),
        )
        K.write_keyed_table(
            fresh, path, ["k"], assume_unique=True, layout="range", range_step=125
        )
        assert sorted(tuple(r) for r in frame.collect()) == before
        assert {r.v for r in K.read_keyed_table(spark, path).collect()} == {9}
    finally:
        _cleanup(path)


def test_readers_survive_upsert_compact_generations(spark):
    """Threaded: two readers run while 8 generations of a full-table
    upsert + compaction go by. Every read sees 500 rows with one v,
    and none crashes on a delta file a compaction folded under it."""
    path = _range_table(spark, "keyed_snap_compact_")
    try:
        errors: list[str] = []
        reads: list[int] = []
        stop = threading.Event()

        def reader():
            while not stop.is_set():
                try:
                    rows = K.read_keyed_table(spark, path).groupBy("v").count().collect()
                    total = sum(r["count"] for r in rows)
                    if total != 500:
                        errors.append(f"saw {total} rows")
                    if len(rows) != 1:
                        errors.append(f"mixed generations: {rows}")
                    reads.append(total)
                except Exception as exc:  # noqa: BLE001
                    errors.append(f"reader crashed: {exc}")

        threads = [threading.Thread(target=reader) for _ in range(2)]
        for t in threads:
            t.start()
        try:
            for gen in range(1, 9):
                batch = spark.range(500).select(
                    F.col("id").alias("k"),
                    F.lit(gen * 1000).cast("long").alias("v"),
                    F.lit("s").alias("tag"),
                )
                K.upsert_keyed_table(spark, path, batch, assume_unique=True)
                assert K.compact_keyed_table(spark, path)["deltas_folded"] == 1
        finally:
            stop.set()
            for t in threads:
                t.join(timeout=300)
        assert not any(t.is_alive() for t in threads), "a reader hung"
        assert not errors, errors[:5]
        assert reads, "no read finished while the generations went by"
    finally:
        _cleanup(path)
