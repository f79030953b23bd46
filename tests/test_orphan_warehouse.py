"""Orphan-proof managed-table creates (round-15, VERDICT r14 item 1).

An interrupted earlier PROCESS leaves warehouse directories on disk that
the (in-memory) catalog of the next process knows nothing about; Spark
then refuses every managed-table create under those names with
LOCATION_ALREADY_EXISTS. The driver's round-14 pytest died exactly this
way (`mh_state_del_tombstones` orphan from an aborted run). These tests
plant such orphans deliberately and pin that the state lifecycle
proceeds anyway.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def _warehouse_dir(spark) -> str:
    wh = spark.conf.get("spark.sql.warehouse.dir")
    return wh[len("file:") :] if wh.startswith("file:") else wh


def _plant_orphan(spark, table: str) -> str:
    """Create a stranded on-disk directory for a table the catalog does
    not know (the exact state the driver's interrupted run left)."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    d = os.path.join(_warehouse_dir(spark), table.lower())
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "orphan-part-00000.parquet"), "w") as f:
        f.write("stale")
    return d


def test_tombstone_append_survives_orphaned_location(spark):
    """minhash_state_delete's append-create must clear a stranded
    tombstone directory instead of refusing (the driver-run failure)."""
    from hadoop_20_warehouse_fix_spark.operators.dedup import (
        minhash_state_delete,
        minhash_state_write,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta token{i}") for i in range(30)],
        ["doc_id", "text"],
    )
    state = "orphan_t_state"
    tables = [f"{state}_{s}" for s in ("bands", "shingles", "meta", "tombstones")]
    try:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        _plant_orphan(spark, f"{state}_tombstones")
        minhash_state_write(docs, "doc_id", "text", state)
        _plant_orphan(spark, f"{state}_tombstones")  # re-stranded after write
        minhash_state_delete(spark, state, [3, 7])
        got = {r.id for r in spark.table(f"{state}_tombstones").collect()}
        assert got == {3, 7}
    finally:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_state_write_survives_orphaned_locations(spark):
    """Every managed table the state writer creates (bucketed data
    tables via write_bucketed, the meta table) must survive a stranded
    directory from a previous process."""
    from hadoop_20_warehouse_fix_spark.operators.dedup import minhash_state_write

    docs = spark.createDataFrame(
        [(i, f"one two three four five six token{i}") for i in range(20)],
        ["doc_id", "text"],
    )
    state = "orphan_w_state"
    tables = [f"{state}_{s}" for s in ("bands", "shingles", "meta", "tombstones")]
    try:
        for t in tables:
            _plant_orphan(spark, t)
        minhash_state_write(docs, "doc_id", "text", state)
        assert spark.table(f"{state}_bands").count() > 0
        assert spark.table(f"{state}_meta").count() == 1
    finally:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_ensure_managed_creatable_leaves_live_tables_alone(spark):
    """The orphan clear must NEVER touch a table the catalog knows: a
    live managed table's directory is not an orphan."""
    from hadoop_20_warehouse_fix_spark.sources.writers import (
        ensure_managed_creatable,
    )

    t = "orphan_live_tbl"
    try:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        spark.createDataFrame([(1,)], ["x"]).write.format("parquet").saveAsTable(t)
        ensure_managed_creatable(spark, t)
        assert spark.table(t).count() == 1
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bpe_save_merges_survives_orphaned_location(spark):
    from hadoop_20_warehouse_fix_spark.operators.bpe import (
        bpe_load_merges,
        bpe_save_merges,
    )

    t = "orphan_bpe_merges"
    try:
        _plant_orphan(spark, t)
        bpe_save_merges(spark, [("a", "b"), ("ab", "c")], t)
        assert bpe_load_merges(spark, t) == [("a", "b"), ("ab", "c")]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_unqualified_create_in_other_database_spares_default_table(spark):
    """With a non-default current database, an unqualified name means
    <current db>.<table>: the orphan clear must delete THAT database's
    directory (taken from the catalog), never <warehouse>/<table> —
    the live data of default.<table>, byte-identical afterwards."""
    from hadoop_20_warehouse_fix_spark.sources.writers import (
        ensure_managed_creatable,
    )

    t, db = "orphan_dbq_tbl", "orphan_dbq_db"
    prev = spark.catalog.currentDatabase()

    def snapshot(d):
        out = {}
        for root, _dirs, files in os.walk(d):
            for name in files:
                with open(os.path.join(root, name), "rb") as f:
                    out[os.path.join(root, name)] = f.read()
        return out

    try:
        spark.sql(f"DROP TABLE IF EXISTS default.{t}")
        spark.createDataFrame([(1,), (2,)], ["x"]).write.format("parquet").saveAsTable(
            f"default.{t}"
        )
        live = os.path.join(_warehouse_dir(spark), t)
        before = snapshot(live)
        assert any(p.endswith(".parquet") for p in before)
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
        db_dir = spark.catalog.getDatabase(db).locationUri
        db_dir = db_dir[len("file:") :] if db_dir.startswith("file:") else db_dir
        orphan = os.path.join(db_dir, t)
        os.makedirs(orphan, exist_ok=True)
        with open(os.path.join(orphan, "orphan-part-00000.parquet"), "w") as f:
            f.write("stale")
        spark.catalog.setCurrentDatabase(db)
        ensure_managed_creatable(spark, t)
        assert not os.path.exists(orphan), "the current database's orphan is cleared"
        assert snapshot(live) == before, "default.<table> must be untouched"
        spark.createDataFrame([(9,)], ["x"]).write.format("parquet").saveAsTable(t)
        assert spark.table(f"{db}.{t}").count() == 1
        assert spark.table(f"default.{t}").count() == 2
    finally:
        spark.catalog.setCurrentDatabase(prev)
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        spark.sql(f"DROP TABLE IF EXISTS default.{t}")
