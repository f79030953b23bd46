"""Tests for sources/writers — the reference's OutputFormat corpus
(TestMultipleOutputs, MapFileOutputFormat sorted layout, demux,
compaction; SURVEY.md §2.1)."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from hadoop_20_warehouse_fix_spark.sources.writers import (
    compact,
    multi_sink,
    null_sink,
    overwrite_table,
    write_bucketed,
    write_kv_text,
    write_partitioned,
    write_sorted,
    write_table,
)


def test_write_kv_text_roundtrip(spark, tmp_path):
    p = str(tmp_path / "kv")
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    write_kv_text(df, p, "k", "v")
    lines = {r.value for r in spark.read.text(p).collect()}
    assert lines == {"1\ta", "2\tb"}


def test_write_partitioned_demux(spark, tmp_path):
    # MultipleOutputFormat: path derived per record → one dir per value.
    p = str(tmp_path / "demux")
    df = spark.range(20).withColumn("bucket", (F.col("id") % 3).cast("int"))
    write_partitioned(df, p, F.col("bucket"), "part")
    dirs = {os.path.basename(d) for d in glob.glob(p + "/part=*")}
    assert dirs == {"part=0", "part=1", "part=2"}
    assert spark.read.parquet(p).count() == 20


def test_multi_sink_single_pass(spark, tmp_path):
    # MultipleOutputs: named side outputs + per-sink counters.
    df = spark.range(100).withColumn("v", F.col("id") % 10)
    paths = {n: str(tmp_path / n) for n in ("low", "high")}
    counts = multi_sink(
        df,
        {
            "low": (F.col("v") < 5, lambda d: write_table(d, paths["low"])),
            "high": (F.col("v") >= 5, lambda d: write_table(d, paths["high"])),
        },
    )
    assert counts == {"low": 50, "high": 50}
    assert spark.read.parquet(paths["low"]).count() == 50


def test_write_sorted_layout(spark, tmp_path):
    # MapFileOutputFormat: sorted within each output file; disjoint file
    # ranges (range partitioning) so row-group stats act as the index.
    p = str(tmp_path / "sorted")
    df = spark.range(1000).withColumn("k", (F.lit(1000) - F.col("id")).cast("long")).drop("id")
    write_sorted(df, p, ["k"], num_files=4)
    files = [f for f in glob.glob(p + "/*.parquet")]
    assert len(files) == 4
    ranges = []
    for f in files:
        vals = [r.k for r in spark.read.parquet("file://" + os.path.abspath(f)).collect()]
        assert vals == sorted(vals)  # sorted within file
        ranges.append((min(vals), max(vals)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2  # disjoint ranges across files


def test_null_sink(spark):
    assert null_sink(spark.range(42)) == 42


def test_compact_reduces_files(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    spark.range(10000).repartition(50).write.parquet(src)
    assert len(glob.glob(src + "/*.parquet")) == 50
    compact(spark, src, dst, target_file_mb=512)
    assert len(glob.glob(dst + "/*.parquet")) == 1
    assert spark.read.parquet(dst).count() == 10000


def test_write_bucketed_no_shuffle_join(spark, tmp_path):
    # CompositeInputFormat physics: two tables bucketed+sorted on the join
    # key sort-merge-join WITHOUT an Exchange in the physical plan.
    a = spark.range(1000).withColumn("va", F.col("id") * 2)
    b = spark.range(500).withColumn("vb", F.col("id") * 3)
    # Force the sort-merge path (tiny test tables would broadcast and
    # bypass bucketing; at warehouse scale SMJ is the default).
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(a, "bt_a", ["id"], num_buckets=4)
        write_bucketed(b, "bt_b", ["id"], num_buckets=4)
        joined = spark.table("bt_a").join(spark.table("bt_b"), "id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == 500
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        for t in ("bt_a", "bt_b"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_write_bucketed_append_rejects_path(spark, tmp_path):
    """round-5 ADVICE: an append writes to the EXISTING table's
    location; silently dropping a caller path could materialize a
    managed table at the warehouse instead of the requested external
    location. The combination raises loudly."""
    import pytest as _pytest

    df = spark.range(10).withColumn("v", F.col("id"))
    with _pytest.raises(ValueError, match="append"):
        write_bucketed(df, "bt_nope", ["id"], num_buckets=4, path=str(tmp_path / "x"), mode="append")
    assert "bt_nope" not in [t.name for t in spark.catalog.listTables()]


def test_backslash_table_path_refused_before_catalog_change(spark, tmp_path):
    """Spark reads a table location as a glob pattern, so a backslash
    in an external ``path`` used to fail deep inside ``saveAsTable``
    with ``Illegal file pattern`` — after the live table was dropped.
    Both writers now refuse it first, naming the character; the live
    table, its location, its rows and the filesystem stay as they
    were."""
    import pytest as _pytest

    live = str(tmp_path / "live")
    bad = str(tmp_path / "o'state \\x")
    df = spark.range(20).withColumn("v", F.col("id") * 2)
    try:
        for name, write in (
            ("bs_bucketed", lambda p: write_bucketed(df, "bs_bucketed", ["id"], num_buckets=4, path=p)),
            ("bs_plain", lambda p: overwrite_table(df, "bs_plain", path=p)),
        ):
            write(f"{live}_{name}")
            loc = spark.sql(f"DESCRIBE TABLE EXTENDED {name}").filter("col_name = 'Location'").first()
            listing = sorted(os.listdir(tmp_path))
            with _pytest.raises(ValueError, match=r"backslash \('\\'\)"):
                write(bad)
            assert spark.catalog.tableExists(name)
            assert spark.sql(f"DESCRIBE TABLE EXTENDED {name}").filter(
                "col_name = 'Location'"
            ).first() == loc
            assert spark.table(name).count() == 20
            assert sorted(os.listdir(tmp_path)) == listing
            assert not os.path.exists(bad)
    finally:
        for t in ("bs_bucketed", "bs_plain"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
