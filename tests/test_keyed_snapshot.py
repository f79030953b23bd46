"""Reader snapshot safety during writes (round 13, #5).

Readers resolve bucket dirs only through the commit manifest, and a
superseded generation's dirs survive ``gc_generations`` further
commits — so a reader never observes a half-published batch or a
mix of generations. Pinned here with a threaded reader-during-re-load
storm (a re-load is the publish that rewrites every bucket at once).
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
