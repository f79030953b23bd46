"""Pins for the round-15 optimization mechanisms."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F


def test_schema_memo_invalidates_on_inplace_part_rewrite(spark, tmp_path):
    """Round-14 VERDICT item 8: the memo must not serve a stale schema
    after an IN-PLACE rewrite of a part file (same filename — the
    directory mtime does not move; only the leaf's does). The key is
    now (max leaf mtime_ns, file count, total bytes) per path."""
    from hadoop_20_warehouse_fix_spark.catalog import load_table

    d = tmp_path / "sfdir"
    d.mkdir()
    tbl = d / "memo_tbl.parquet"
    spark.createDataFrame([(1, "a")], ["id", "v"]).coalesce(1).write.parquet(str(tbl))
    first = load_table(spark, str(d), "memo_tbl")
    assert dict(first.dtypes)["v"] == "string"

    part = next(p for p in os.listdir(tbl) if p.endswith(".parquet"))
    dir_mtime = os.stat(tbl).st_mtime_ns
    # In-place rewrite UNDER THE SAME PART NAME with a changed schema,
    # then restore the directory mtime so only the leaf fingerprint can
    # catch the change (the old directory-mtime key provably misses it).
    tmp_out = tmp_path / "newpart"
    spark.createDataFrame([(1, 99)], ["id", "v"]).coalesce(1).write.parquet(str(tmp_out))
    newpart = next(p for p in os.listdir(tmp_out) if p.endswith(".parquet"))
    os.replace(tmp_out / newpart, tbl / part)
    for leftover in os.listdir(tbl):
        if leftover.endswith(".crc"):
            os.remove(tbl / leftover)
    os.utime(tbl, ns=(dir_mtime, dir_mtime))

    second = load_table(spark, str(d), "memo_tbl")
    assert dict(second.dtypes)["v"] in ("int", "bigint"), (
        "stale memoized schema served after in-place part rewrite"
    )


_PIN_DOCS = [
    (1, "alpha beta gamma delta epsilon zeta eta theta"),
    (2, "alpha beta gamma delta epsilon zeta eta iota"),
    (3, "the quick brown fox jumps over the lazy dog"),
]


def test_minhash_banding_bit_identical_to_prechange_values(spark):
    """Round 15 rebuilt minhash_signatures / banded_signature_rows as
    parsed-SQL expressions (the py4j Column composition cost ~0.5 s of
    pure construction per build). The banding function IS the persisted
    LSH state format, so the rewrite must be BIT-identical — these are
    the pre-change outputs, captured at the r14 HEAD."""
    import hashlib

    from hadoop_20_warehouse_fix_spark.operators.dedup import (
        banded_signature_rows,
        minhash_signatures,
    )

    docs = spark.createDataFrame(_PIN_DOCS, ["doc_id", "text"])
    b = banded_signature_rows(docs, "doc_id", "text", n=3, num_hashes=60, bands=20)
    assert b.columns == ["id", "band", "bh"]
    rows = sorted((r.id, r.band, r.bh) for r in b.collect())
    assert rows[:2] == [
        (1, 0, -2218181399537245515),
        (1, 1, 8358026677973924292),
    ]
    digest = hashlib.md5(str(rows).encode()).hexdigest()
    assert digest == "09518cac107c504733725a843d49942a"
    m = minhash_signatures(docs, "doc_id", "text", 3, 60)
    got = sorted((r.id, r.h0, r.h1, r.h59) for r in m.collect())
    assert got == [
        (1, -3830774081519136927, -8818747605353479591, -5226691433639723085),
        (2, -1157160001859682027, -8818747605353479591, -9177714785528768890),
        (3, -5722436853456277108, -8779152658124852842, -7593365555665249569),
    ]


def test_simhash_bands_bit_identical_to_prechange_values(spark):
    """Same pin for the simhash builder (64 bit-sums + 4x16 packing
    rebuilt as parsed SQL, ~0.77 s of construction removed); its md5
    token hash is also replayed bit-for-bit by the DuckDB oracle."""
    from hadoop_20_warehouse_fix_spark.operators.dedup import simhash_bands

    docs = spark.createDataFrame(_PIN_DOCS, ["doc_id", "text"])
    got = sorted(
        (r.id, r.band0, r.band1, r.band2, r.band3)
        for r in simhash_bands(docs, "doc_id", "text").collect()
    )
    assert got == [
        (1, 2739, 8368, 6424, 2072),
        (2, 2737, 8368, 6456, 2584),
        (3, 15608, 4052, 26318, 52619),
    ]


def test_apply_changes_fused_validation_with_clashing_column_names(spark, tmp_path):
    """Round 15 fused the change-batch validation into the delta write
    (window + Observation checked before the _COMMITTED marker). The
    helper columns must not collide with data columns — a table may
    legally carry a column named `_dupn`/`_nk`. Pins: values survive,
    duplicates still refuse, nothing committed on refusal."""
    from hadoop_20_warehouse_fix_spark.sources.keyed import (
        _delta_seq_dirs,
        apply_changes_keyed_table,
        read_keyed_table,
        write_keyed_table,
    )

    path = str(tmp_path / "clash_tab")
    base = spark.createDataFrame(
        [(i, i * 10, i * 100) for i in range(50)], ["k", "_dupn", "_nk"]
    )
    write_keyed_table(base, path, ["k"], num_buckets=4, assume_unique=True)
    chg = spark.createDataFrame([(7, 777, 7770, None)], "k long, _dupn long, _nk long, op string")
    out = apply_changes_keyed_table(spark, path, chg, op_col="op")
    assert (out["rows"], out["upserts"]) == (1, 1)
    got = read_keyed_table(spark, path).filter(F.col("k") == 7).first()
    assert (got["_dupn"], got["_nk"]) == (777, 7770), "helper columns clobbered data"
    n_deltas = len(_delta_seq_dirs(spark, path))
    dup = spark.createDataFrame(
        [(9, 1, 1, None), (9, 2, 2, "delete")], "k long, _dupn long, _nk long, op string"
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        apply_changes_keyed_table(spark, path, dup, op_col="op")
    assert len(_delta_seq_dirs(spark, path)) == n_deltas, "refused batch left a committed delta"


def test_schema_memo_bounded_per_path(spark, tmp_path):
    """Round-14 ADVICE: rewrites must REPLACE a path's memo entry, not
    accumulate one entry per mtime."""
    from hadoop_20_warehouse_fix_spark.catalog import _SCHEMA_CACHE, load_table

    d = tmp_path / "sfdir2"
    d.mkdir()
    tbl = d / "bounded_tbl.parquet"
    for i in range(3):
        spark.createDataFrame([(i,)], ["x"]).write.mode("overwrite").parquet(str(tbl))
        time.sleep(0.01)
        load_table(spark, str(d), "bounded_tbl")
    hits = [p for p in _SCHEMA_CACHE if p.endswith("bounded_tbl.parquet")]
    assert len(hits) == 1


def test_schema_memo_skips_store_when_rewrite_races_inference(spark, tmp_path, monkeypatch):
    """A rewrite landing between the fingerprint and the schema
    inference must not memoize the new schema under the old token: on a
    miss the path is fingerprinted again after inference, and the entry
    is stored only if the token did not move."""
    from hadoop_20_warehouse_fix_spark import catalog

    d = tmp_path / "sfdir3"
    d.mkdir()
    tbl = d / "race_tbl.parquet"
    spark.createDataFrame([(1,)], ["x"]).write.parquet(str(tbl))
    real = catalog._table_fingerprint
    calls: list[str] = []

    def racing(local_path):
        calls.append(local_path)
        token = real(local_path)
        return token if len(calls) == 1 else token + ("rewritten",)

    monkeypatch.setattr(catalog, "_table_fingerprint", racing)
    assert catalog.load_table(spark, str(d), "race_tbl").columns == ["x"]
    assert len(calls) == 2
    assert not [p for p in catalog._SCHEMA_CACHE if p.endswith("race_tbl.parquet")]
