"""Tests for sources/readers — the reference's InputFormat corpus
(TestTextInputFormat, TestSequenceFileInputFilter, TestConstructQuery,
SkipBadRecords semantics; SURVEY.md §2.1/§2.2)."""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_20_warehouse_fix_spark.sources.readers import (
    badrecords_safe_udf,
    jdbc_select_query,
    read_csv,
    read_kv_text,
    read_sequence_file,
    read_text,
    read_text_nlines,
    read_xml_records,
    scan_time_filters,
    sequence_to_parquet,
)


def test_sequence_file_round_trip_text(spark, tmp_path):
    # The reference's TestSequenceFile round-trip (SequenceFile.java:186
    # header + sync markers), Text/Text: write real SequenceFiles, read
    # them back typed. SURVEY §5.1 model.
    from hadoop_20_warehouse_fix_spark.sources.writers import write_sequence_file

    src = spark.createDataFrame(
        [(f"k{i:03d}", f"v{i}") for i in range(100)], "key string, value string"
    )
    path = str(tmp_path / "seq_text")
    write_sequence_file(src, path, "key", "value")
    back = read_sequence_file(spark, path, "Text", "Text")
    assert back.schema.simpleString() == "struct<key:string,value:string>"
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))


def test_sequence_file_round_trip_numeric_and_binary(spark, tmp_path):
    from hadoop_20_warehouse_fix_spark.sources.writers import write_sequence_file

    # LongWritable / DoubleWritable
    num = spark.range(50).select(
        (F.col("id") + 10_000_000_000).alias("k"), (F.col("id") * 1.5).alias("v")
    )
    p1 = str(tmp_path / "seq_num")
    write_sequence_file(num, p1, "k", "v")
    back = read_sequence_file(spark, p1, "LongWritable", "DoubleWritable", "k", "v")
    assert back.schema.simpleString() == "struct<k:bigint,v:double>"
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, num.collect()))

    # Text / BytesWritable (binary payloads — the multimodal storage case)
    byt = spark.createDataFrame(
        [(f"b{i}", bytes([i, 255 - i, 0])) for i in range(20)], "key string, value binary"
    )
    p2 = str(tmp_path / "seq_bytes")
    write_sequence_file(byt, p2, "key", "value")
    back2 = read_sequence_file(spark, p2, "Text", "BytesWritable")
    assert back2.schema.simpleString() == "struct<key:string,value:binary>"
    assert sorted(map(tuple, back2.collect())) == sorted(map(tuple, byt.collect()))


def test_sequence_to_parquet_migration(spark, tmp_path):
    from hadoop_20_warehouse_fix_spark.sources.writers import write_sequence_file

    src = spark.createDataFrame(
        [(f"k{i}", f"v{i}") for i in range(30)], "key string, value string"
    )
    seq = str(tmp_path / "seq_src")
    write_sequence_file(src, seq, "key", "value")
    pq = str(tmp_path / "pq_dest")
    migrated = sequence_to_parquet(spark, seq, pq, "Text", "Text")
    assert sorted(map(tuple, migrated.collect())) == sorted(map(tuple, src.collect()))
    # steady-state scan is now columnar
    assert spark.read.parquet(pq).count() == 30


def test_read_text_lines(spark, tmp_path):
    p = tmp_path / "t.txt"
    p.write_text("one\ntwo\nthree\n")
    assert {r.value for r in read_text(spark, str(p)).collect()} == {"one", "two", "three"}


def test_read_kv_text_first_sep_split(spark, tmp_path):
    # KeyValueLineRecordReader: split at FIRST sep; value keeps later seps;
    # a line with no sep is all-key, empty value.
    p = tmp_path / "kv.txt"
    p.write_text("a\tb\tc\nnokey\nk2\tv2\n")
    rows = {r.key: r.value for r in read_kv_text(spark, str(p)).collect()}
    assert rows == {"a": "b\tc", "nokey": "", "k2": "v2"}


def test_read_csv_permissive_corrupt_record(spark, tmp_path):
    # SkipBadRecords analog for parse errors: malformed rows are captured
    # in _corrupt_record, not fatal.
    p = tmp_path / "d.csv"
    p.write_text("1,x\n2,y\nBAD_ROW_NO_COMMA_INT,z\n")
    # cache(): Spark disallows querying only _corrupt_record on the raw scan
    df = read_csv(spark, str(p), schema="a int, b string, _corrupt_record string").cache()
    good = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert good.count() == 2 and bad.count() == 1


def test_scan_time_filters(spark):
    # RegexFilter:103 / PercentFilter:146 semantics as pushed predicates.
    df = spark.range(100).withColumnRenamed("id", "k")
    assert scan_time_filters(df, "k", percent_mod=10).count() == 10
    assert scan_time_filters(df, "k", regex="^1.$").count() == 10
    assert scan_time_filters(df, "k", regex="^1.$", percent_mod=10).count() == 1


def test_read_xml_records_multiline(spark, tmp_path):
    # StreamXmlRecordReader semantics: records delimited by begin/end
    # tags, possibly spanning lines; inter-record junk ignored.
    p = tmp_path / "r.xml"
    p.write_text("<root>\n<rec id='1'>alpha\nbeta</rec>\njunk\n<rec>gamma</rec>\n</root>\n")
    rows = [r.record for r in read_xml_records(spark, str(p), "rec").collect()]
    assert sorted(rows) == ["<rec id='1'>alpha\nbeta</rec>", "<rec>gamma</rec>"]


def test_read_text_nlines_partition_bound(spark, tmp_path):
    # NLineInputFormat: no task sees more than N lines.
    p = tmp_path / "n.txt"
    p.write_text("".join(f"line{i}\n" for i in range(10)))
    df = read_text_nlines(spark, str(p), lines_per_task=3)
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == 10


def test_jdbc_select_query_construction():
    # TestConstructQuery analog (DBInputFormat.getSelectQuery:87).
    q = jdbc_select_query("t", ["a", "b"], conditions="a > 1", order_by="b")
    assert q == "SELECT a, b FROM t WHERE a > 1 ORDER BY b"
    assert jdbc_select_query("t", ["a"]) == "SELECT a FROM t"


def test_badrecords_safe_udf(spark):
    df = spark.createDataFrame([("5",), ("0",), ("x",), ("4",)], ["s"])
    safe = badrecords_safe_udf(lambda s: 100 // int(s), "int")
    out = df.select(safe("s").alias("v"))
    assert [r.v for r in out.collect()] == [20, None, None, 25]


def test_badrecords_pandas_engine_handles_more_return_types(spark):
    """The Arrow path must round-trip non-int return types (object
    Series → Arrow conversion) with NULLs interleaved."""
    df = spark.createDataFrame([("2.5",), ("x",), ("4.0",)], ["s"])
    as_double = badrecords_safe_udf(lambda s: float(s), "double")
    assert [r.v for r in df.select(as_double("s").alias("v")).collect()] == [2.5, None, 4.0]
    as_str = badrecords_safe_udf(lambda s: str(float(s)), "string")
    assert [r.v for r in df.select(as_str("s").alias("v")).collect()] == ["2.5", None, "4.0"]


def test_badrecords_default_engine_is_not_row_at_a_time(spark):
    """The wrapper must plan an Arrow-batched ArrowEvalPython, never
    the per-row BatchEvalPython (the 100 TB scan-path throughput
    killer)."""
    df = spark.createDataFrame([("5",), ("x",)], ["s"])
    safe = badrecords_safe_udf(lambda s: int(s), "int")
    plan = df.select(safe("s").alias("v"))._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan


def test_badrecords_safe_cast_is_pure_expression(spark):
    """Expression fast path: malformed → NULL with zero Python in the plan."""
    from hadoop_20_warehouse_fix_spark.sources.readers import badrecords_safe_cast

    df = spark.createDataFrame([("5",), ("x",), ("7",)], ["s"])
    out = df.select(badrecords_safe_cast("s", "int").alias("v"))
    assert [r.v for r in out.collect()] == [5, None, 7]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_jdbc_roundtrip_embedded_derby(spark):
    """Real JDBC sink + scan (DBOutputFormat/DBInputFormat) against the
    in-JVM Derby that ships with Spark — batched INSERT out, plain and
    range-partitioned parallel reads back."""
    from pyspark.sql import functions as F

    from hadoop_20_warehouse_fix_spark.sources.readers import read_jdbc
    from hadoop_20_warehouse_fix_spark.sources.writers import write_jdbc

    df = spark.range(100).select(F.col("id"), (F.col("id") * 3).alias("v"))
    url = "jdbc:derby:memory:h20wf_test;create=true"
    drv = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    write_jdbc(df, url, "tbl_rt", mode="overwrite", batch_size=25, **drv)
    back = read_jdbc(spark, url, "tbl_rt", **drv)
    assert sorted((r.id, r.v) for r in back.collect()) == [(i, i * 3) for i in range(100)]
    part = read_jdbc(
        spark, url, "tbl_rt",
        partition_column="id", lower_bound=0, upper_bound=100, num_partitions=4, **drv,
    )
    assert part.rdd.getNumPartitions() == 4
    assert part.count() == 100


def test_nested_recordio_style_roundtrip(spark, tmp_path):
    """RecordIO analog (SURVEY §1.2): nested struct with vector/map/
    buffer fields as a StructType DDL string, parquet round-trip
    preserving every value including map and binary."""
    schema = (
        "id bigint, rec struct<name:string, tags:array<string>, "
        "attrs:map<string,int>, payload:binary>"
    )
    rows = [
        (1, ("alpha", ["x", "y"], {"a": 1, "b": 2}, bytearray(b"\x00\x01"))),
        (2, ("beta", [], {}, bytearray(b""))),
        (3, (None, None, None, None)),
    ]
    df = spark.createDataFrame(rows, schema)
    path = str(tmp_path / "recs")
    df.write.parquet(path)
    back = spark.read.parquet(path)
    assert back.schema == df.schema
    got = {r.id: r.rec for r in back.collect()}
    assert got[1].name == "alpha" and got[1].tags == ["x", "y"]
    assert got[1].attrs == {"a": 1, "b": 2} and bytes(got[1].payload) == b"\x00\x01"
    assert got[2].tags == [] and got[2].attrs == {}
    assert got[3].name is None and got[3].payload is None


def test_badrecords_engines_agree_on_null_and_typed_values(spark):
    """The Arrow-batched wrapper must hand fn the Python values a row
    UDF would: SQL NULL as None (not NaN/NaT), timestamps as datetime,
    arrays as lists — a fn written against the row contract
    (`if v is None`) must see exactly those values."""
    import datetime

    df = spark.createDataFrame(
        [
            (1.0, datetime.datetime(2000, 1, 2, 3, 4, 5), [1, 2]),
            (None, None, None),
            (3.0, datetime.datetime(2001, 6, 7, 8, 9, 10), [3]),
        ],
        "x double, t timestamp, a array<int>",
    )

    def classify(x, t, a):
        if x is None:
            return "null-x"
        if not isinstance(t, datetime.datetime):
            return f"bad-t:{type(t).__name__}"
        if not isinstance(a, list):
            return f"bad-a:{type(a).__name__}"
        return f"{x * 2}|{t.year}|{sum(a)}"

    safe = badrecords_safe_udf(classify, "string")
    got = [r.o for r in df.select(safe("x", "t", "a").alias("o")).collect()]
    assert got == ["2.0|2000|3", "null-x", "6.0|2001|3"]


def test_fan_out_small_scan_probe_and_equality(spark, tmp_path):
    """Round-7 review nit: the fan-out probe must not convert the plan
    through the RDD path. The file-listing estimate must (a) fan a
    single small file out to full core width, (b) leave a many-split
    scan alone, (c) never change results, and (d) report None (treated
    as big -> no-op) for non-file relations."""
    from hadoop_20_warehouse_fix_spark.catalog import (
        estimate_scan_partitions,
        fan_out_small_scan,
    )

    src = spark.range(2000).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    )
    small = str(tmp_path / "one_small_file")
    src.coalesce(1).write.parquet(small)
    df = spark.read.parquet(small)
    cores = spark.sparkContext.defaultParallelism
    assert estimate_scan_partitions(df) == 1
    fanned = fan_out_small_scan(df)
    # the fan-out is a repartition to core width (RDD probe is test-side only)
    assert fanned.rdd.getNumPartitions() == cores
    assert sorted(map(tuple, fanned.collect())) == sorted(map(tuple, src.collect()))
    # a relation with no files (in-memory range) probes None -> no-op
    mem = spark.range(10)
    assert estimate_scan_partitions(mem) is None
    assert fan_out_small_scan(mem) is mem
    # many-files case: enough natural splits -> untouched plan object
    many = str(tmp_path / "many_files")
    src.repartition(max(cores, 2)).write.parquet(many)
    df_many = spark.read.parquet(many)
    est = estimate_scan_partitions(df_many)
    assert est is not None and est >= max(cores, 2) // 2
    assert fan_out_small_scan(df_many) is df_many


def test_fan_out_probe_handles_percent_encoded_paths(spark, tmp_path):
    """Round-8 review: inputFiles() returns URIs, so a path with a
    space arrives %20-encoded — the probe must decode before getsize
    or the fan-out silently disables on such layouts."""
    from hadoop_20_warehouse_fix_spark.catalog import estimate_scan_partitions

    d = tmp_path / "dir with space"
    d.mkdir()
    spark.range(100).coalesce(1).write.parquet(str(d / "t.parquet"))
    df = spark.read.parquet(str(d / "t.parquet"))
    assert estimate_scan_partitions(df) == 1  # decoded, sized, estimated


def test_fan_out_probe_bucketed_and_unsplittable(spark, tmp_path):
    """Round-8 ADVICE: (a) a bucketed catalog table plans one partition
    per BUCKET, not per split — the probe must answer None (unknown/
    big) so fan_out_small_scan never repartitions away the bucket
    co-location; (b) a gzip text file is non-splittable — one split per
    FILE, never chopped by the split arithmetic."""
    from hadoop_20_warehouse_fix_spark.catalog import (
        estimate_scan_partitions,
        fan_out_small_scan,
    )

    spark.sql("DROP TABLE IF EXISTS probe_bucketed_advice")
    (
        spark.range(2000)
        .select(F.col("id"), (F.col("id") % 7).alias("k"))
        .write.bucketBy(4, "k")
        .sortBy("k")
        .mode("overwrite")
        .saveAsTable("probe_bucketed_advice")
    )
    try:
        tbl = spark.table("probe_bucketed_advice")
        assert estimate_scan_partitions(tbl) is None
        assert fan_out_small_scan(tbl) is tbl  # layout left alone
        # round-9 review: a non-FS leaf FIRST in the plan (no
        # .relation()) must not abort the scan before the bucketed
        # leaf is seen — per-leaf try, not one try around the loop
        mem_first = spark.createDataFrame(
            [(0, 0)], "id long, k bigint"
        ).unionByName(tbl.select("id", "k"))
        assert estimate_scan_partitions(mem_first) is None
    finally:
        spark.sql("DROP TABLE IF EXISTS probe_bucketed_advice")

    gz = str(tmp_path / "gz_text")
    spark.range(50_000).select(
        F.concat(F.lit("line-"), F.col("id")).alias("value")
    ).coalesce(2).write.option("compression", "gzip").text(gz)
    df = spark.read.text(gz)
    # tiny maxPartitionBytes would chop a SPLITTABLE file into many
    # pieces; a .gz file must still count one split per file
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    old_open = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
        spark.conf.set("spark.sql.files.openCostInBytes", "16384")
        est = estimate_scan_partitions(df)
        assert est == 2  # == file count, matching the actual scan
        assert df.rdd.getNumPartitions() == 2
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
        spark.conf.set("spark.sql.files.openCostInBytes", old_open)
