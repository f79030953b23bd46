"""Type-widening schema evolution (round 14, brief #6).

``evolve_schema=True`` batches could only ADD columns; widening an
existing column (int→bigint — the first evolution Delta/Iceberg users
hit) was refused by the dtype contract. Widening along ``_WIDENS`` is
now a METADATA-ONLY commit: the table schema flips atomically (one
manifest PUT), files never rewrite up front —
Spark's vectorized parquet reader performs the widening promotions at
scan time (int32→int64, float→double, decimal growth; probe-verified
here) — and compaction converges the physical type as buckets rewrite.

Key columns: refused on the hash layout (``xxhash64`` hashes int 5 and
long 5 differently — probe-verified — so a widened key would re-bucket
every row out from under its directory); the range layout buckets
through ``CAST AS BIGINT`` and widens safely.
"""

from __future__ import annotations

import json
import shutil
import tempfile

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import hadoop_20_warehouse_fix_spark.sources.keyed as K


def _int_table(spark, layout="hash", **kw):
    tmp = tempfile.mkdtemp(prefix="keyed_widen_")
    path = f"{tmp}/tab"
    base = spark.range(500).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") * 2).cast("int").alias("v"),
        F.lit("base").alias("tag"),
    )
    if layout == "range":
        kw.setdefault("range_step", 100)
    K.write_keyed_table(base, path, ["k"], num_buckets=4, layout=layout, **kw)
    return path


def _cleanup(path):
    shutil.rmtree(path.rsplit("/", 1)[0], ignore_errors=True)


def test_widen_int_to_bigint_metadata_only(spark):
    """A bigint batch with values past int range widens v — old rows
    (physically int32) and new rows read exactly through the evolved
    schema, with ZERO base files rewritten by the evolution itself."""
    path = _int_table(spark)
    try:
        import os

        def base_files():
            out = []
            for root, _dirs, files in os.walk(path):
                if K._DELTA_DIR in root or "_staging" in root:
                    continue
                out.extend(
                    (os.path.join(root, f), os.path.getmtime(os.path.join(root, f)))
                    for f in files if f.endswith(".parquet")
                )
            return sorted(out)

        before = base_files()
        big = spark.createDataFrame(
            [(5, 5_000_000_000, "wide"), (600, 6_000_000_000, "ins")],
            "k int, v bigint, tag string",
        )
        K.upsert_keyed_table(
            spark, path, big, evolve_schema=True, assume_unique=True
        )
        assert base_files() == before, "widening must not rewrite base files"
        meta = K.read_keyed_meta(spark, path)
        vt = {
            f["name"]: f["type"] for f in json.loads(meta["schema_json"])["fields"]
        }
        assert vt["v"] == "long"
        tab = K.read_keyed_table(spark, path)
        assert dict(tab.dtypes)["v"] == "bigint"
        got = {r.k: r.v for r in tab.filter(F.col("k").isin(3, 5, 600)).collect()}
        assert got == {3: 6, 5: 5_000_000_000, 600: 6_000_000_000}
        assert tab.count() == 501
    finally:
        _cleanup(path)


def test_compaction_converges_physical_type(spark):
    path = _int_table(spark)
    try:
        big = spark.createDataFrame(
            [(5, 5_000_000_000, "wide")], "k int, v bigint, tag string"
        )
        K.upsert_keyed_table(
            spark, path, big, evolve_schema=True, assume_unique=True
        )
        K.compact_keyed_table(spark, path, rewrite_all=True)
        import os

        phys = set()
        cm = K._current_commit(spark, path)
        for d in cm["buckets"].values():
            full = os.path.join(path, d)
            for f in os.listdir(full):
                if f.endswith(".parquet"):
                    t = pq.read_schema(os.path.join(full, f)).field("v").type
                    phys.add(str(t))
        assert phys == {"int64"}, f"compaction converges v to int64, got {phys}"
        tab = K.read_keyed_table(spark, path)
        assert tab.filter(F.col("k") == 5).first().v == 5_000_000_000
        assert tab.count() == 500
    finally:
        _cleanup(path)


def test_widen_key_refused_on_hash_layout(spark):
    path = _int_table(spark)
    try:
        big = spark.createDataFrame(
            [(5_000_000_000, 1, "k64")], "k bigint, v int, tag string"
        )
        with pytest.raises(ValueError, match="cannot widen key columns"):
            K.upsert_keyed_table(
                spark, path, big, evolve_schema=True, assume_unique=True
            )
    finally:
        _cleanup(path)


def test_widen_key_allowed_on_range_layout(spark):
    """Range bucketing goes through CAST AS BIGINT — type-stable, so
    the leading key may widen; a key past int range lands in a fresh
    bucket and reads back exactly."""
    path = _int_table(spark, layout="range")
    try:
        big = spark.createDataFrame(
            [(5_000_000_000, 1, "k64"), (3, 333, "upd")],
            "k bigint, v int, tag string",
        )
        K.upsert_keyed_table(
            spark, path, big, evolve_schema=True, assume_unique=True
        )
        tab = K.read_keyed_table(spark, path)
        assert dict(tab.dtypes)["k"] == "bigint"
        got = {r.k: r.v for r in tab.filter(F.col("k").isin(3, 5_000_000_000)).collect()}
        assert got == {3: 333, 5_000_000_000: 1}
        assert tab.count() == 501
        K.compact_keyed_table(spark, path)
        assert K.read_keyed_table(spark, path).count() == 501
    finally:
        _cleanup(path)


def test_without_evolve_flag_lossy_bigint_still_refused(spark):
    """The dtype contract is unchanged when evolve_schema is off: a
    bigint batch with out-of-int-range values refuses the whole batch."""
    path = _int_table(spark)
    try:
        big = spark.createDataFrame(
            [(5, 5_000_000_000, "wide")], "k int, v bigint, tag string"
        )
        with pytest.raises(ValueError, match="do not fit int"):
            K.upsert_keyed_table(spark, path, big, assume_unique=True)
        assert K.read_keyed_table(spark, path).count() == 500
    finally:
        _cleanup(path)


def test_widen_float_to_double_and_decimal_growth(spark):
    tmp = tempfile.mkdtemp(prefix="keyed_widen_fd_")
    path = f"{tmp}/tab"
    base = spark.range(100).select(
        F.col("id").alias("k"),
        (F.col("id") * 0.5).cast("float").alias("f"),
        F.col("id").cast("decimal(10,2)").alias("d"),
    )
    K.write_keyed_table(base, path, ["k"], num_buckets=2)
    try:
        batch = spark.createDataFrame(
            [(5, 1.25, "123456789012345678.25")], "k long, f double, d string"
        ).select("k", "f", F.col("d").cast("decimal(20,2)").alias("d"))
        K.upsert_keyed_table(
            spark, path, batch, evolve_schema=True, assume_unique=True
        )
        tab = K.read_keyed_table(spark, path)
        assert dict(tab.dtypes)["f"] == "double"
        assert dict(tab.dtypes)["d"] == "decimal(20,2)"
        r5 = tab.filter(F.col("k") == 5).first()
        assert r5.f == 1.25
        assert str(r5.d) == "123456789012345678.25"
        r3 = tab.filter(F.col("k") == 3).first()
        assert r3.f == 1.5 and str(r3.d) == "3.00"
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_apply_changes_evolve_schema_widens(spark):
    """The CDC entry point widens like the upsert does: a bigint value
    past int range in an int column evolves the column to bigint (one
    metadata commit) and lands exactly, instead of refusing the batch as
    a lossy cast."""
    path = _int_table(spark)
    try:
        big = spark.createDataFrame([(5, 2**40, "wide")], "k int, v bigint, tag string")
        out = K.apply_changes_keyed_table(spark, path, big, evolve_schema=True)
        assert out["upserts"] == 1
        tab = K.read_keyed_table(spark, path)
        assert dict(tab.dtypes)["v"] == "bigint"
        assert tab.filter(F.col("k") == 5).first().v == 2**40
        assert tab.filter(F.col("k") == 3).first().v == 6
        assert tab.count() == 500
    finally:
        _cleanup(path)
