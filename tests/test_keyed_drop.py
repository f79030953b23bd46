"""Drop-column schema evolution (round 14 — the second half of
verdict missing #4, after widening).

``drop_keyed_columns`` removes data columns as ONE atomic meta/manifest
PUT — zero file rewrites; explicit-schema readers simply stop
requesting the column (parquet column pruning), churn sheds the bytes,
``compact_keyed_table(rewrite_all=True)`` purges immediately. Key
columns refuse. A dropped name cannot be re-added until the bytes are
purged (``dropped_cols`` guard) — re-adding under a different type
would crash explicit-schema reads of un-rewritten files (the failure
Iceberg prevents with field IDs; purge-first is the plain-parquet
equivalent).
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import hadoop_20_warehouse_fix_spark.sources.keyed as K


def _mk(spark, rows=300, buckets=4):
    tmp = tempfile.mkdtemp(prefix="keyed_drop_")
    path = f"{tmp}/tab"
    base = spark.range(rows).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"),
        F.lit("base").alias("tag"),
    )
    K.write_keyed_table(base, path, ["k"], num_buckets=buckets)
    return path


def _cleanup(path):
    shutil.rmtree(path.rsplit("/", 1)[0], ignore_errors=True)


def _base_parquets(path):
    out = []
    for root, _dirs, files in os.walk(path):
        b = os.path.basename(root)
        if b.startswith(("_delta", "_commits", "_staging")):
            continue
        out.extend(
            (os.path.join(root, f), os.path.getmtime(os.path.join(root, f)))
            for f in files if f.endswith(".parquet")
        )
    return sorted(out)


def test_drop_is_metadata_only_and_batches_slim_down(spark):
    path = _mk(spark)
    try:
        before = _base_parquets(path)
        out = K.drop_keyed_columns(spark, path, ["tag"])
        assert out == {"dropped": ["tag"], "data_cols": ["k", "v"]}
        assert _base_parquets(path) == before, "drop must not rewrite files"
        tab = K.read_keyed_table(spark, path)
        assert tab.columns == ["k", "v"]
        assert tab.filter(F.col("k") == 3).first().v == 6
        assert tab.count() == 300
        # post-drop batches need not (and must not) carry the column
        K.upsert_keyed_table(
            spark, path,
            spark.createDataFrame([(3, 333)], "k long, v long"),
            assume_unique=True,
        )
        assert K.read_keyed_table(spark, path).filter(
            F.col("k") == 3
        ).first().v == 333
        with pytest.raises(ValueError, match="!= table columns"):
            K.upsert_keyed_table(
                spark, path,
                spark.createDataFrame([(4, 4, "ghost")], "k long, v long, tag string"),
                assume_unique=True,
            )
    finally:
        _cleanup(path)


def test_drop_refusals(spark):
    path = _mk(spark)
    try:
        with pytest.raises(ValueError, match="cannot drop key columns"):
            K.drop_keyed_columns(spark, path, ["k"])
        with pytest.raises(ValueError, match="not table columns"):
            K.drop_keyed_columns(spark, path, ["nope"])
        with pytest.raises(ValueError, match="every non-key column"):
            K.drop_keyed_columns(spark, path, ["v", "tag"])
    finally:
        _cleanup(path)


def test_readd_guard_until_purged(spark):
    path = _mk(spark)
    try:
        K.drop_keyed_columns(spark, path, ["tag"])
        # re-adding the name (even same-typed) refuses while old bytes remain
        with pytest.raises(ValueError, match="previously dropped"):
            K.upsert_keyed_table(
                spark, path,
                spark.createDataFrame(
                    [(1, 2, "new")], "k long, v long, tag string"
                ),
                assume_unique=True, evolve_schema=True,
            )
        # full purge: every live file rewritten without the column
        K.compact_keyed_table(spark, path, rewrite_all=True)
        cm = K._current_commit(spark, path)
        for d in cm["buckets"].values():
            for f in os.listdir(os.path.join(path, d)):
                if f.endswith(".parquet"):
                    names = pq.read_schema(os.path.join(path, d, f)).names
                    assert "tag" not in names
        assert "dropped_cols" not in K.read_keyed_meta(spark, path)
        # guard cleared — the name is reusable, with a DIFFERENT type
        K.upsert_keyed_table(
            spark, path,
            spark.range(300).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("v"),
                (F.col("id") % 5).alias("tag"),  # bigint now
            ),
            assume_unique=True, evolve_schema=True,
        )
        tab = K.read_keyed_table(spark, path)
        assert dict(tab.dtypes)["tag"] == "bigint"
        assert tab.filter(F.col("k") == 7).first().tag == 2
    finally:
        _cleanup(path)


def test_drop_is_a_history_commit(spark):
    path = _mk(spark)
    try:
        K.drop_keyed_columns(spark, path, ["tag"])
        h = K.keyed_table_history(spark, path).collect()
        assert [r.commit_n for r in h] == [1, 2]
        assert [r.n_data_cols for r in h] == [3, 2]
        assert h[-1].is_current
    finally:
        _cleanup(path)
