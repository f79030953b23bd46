"""Sinks (SURVEY.md §2.1 sinks + §4 bucketed layout).

Reference OutputFormats → Spark sinks:
- TextOutputFormat (``M/TextOutputFormat.java:40``) → ``write_text`` /
  ``write_kv_text`` (``k \\t v`` lines, optional compression codec).
- SequenceFileOutputFormat (``M/SequenceFileOutputFormat.java:41``) →
  ``write_table`` (Parquet — the engine's columnar standard, SURVEY §1.3).
- MapFileOutputFormat (``M/MapFileOutputFormat.java:39`` — sorted +
  sparse-indexed KV) → ``write_sorted`` (sortWithinPartitions → Parquet:
  row-group min/max stats play the sparse index's role for point/range
  lookups; optional bloom filter ≈ BloomMapFile ``BloomMapFile.java:45``).
- MultipleOutputFormat (``M/lib/MultipleOutputFormat.java:85,139`` —
  per-record output path) → ``write_partitioned`` (``partitionBy``; the
  derived-path function becomes a derived column).
- MultipleOutputs (``M/lib/MultipleOutputs.java:116`` — named side
  outputs from one job) → ``multi_sink`` (one cached pass, N filtered
  writes — same single-read guarantee the reference's collector gave).
- NullOutputFormat (``M/lib/NullOutputFormat.java``) → ``null_sink``
  (full materialization, nothing written — benchmarking / validation).
- DBOutputFormat (``M/lib/db/DBOutputFormat.java`` batched INSERT) →
  ``write_jdbc``.
- HadoopArchives / CombineFileInputFormat compaction
  (``src/tools/.../HadoopArchives.java``) → ``compact`` (coalesce to
  target file sizes — the small-files problem solved at write time).
- Bucketed layout (map-side merge join physics of
  ``M/join/CompositeInputFormat.java:48``) → ``write_bucketed``
  (``bucketBy(n, k).sortBy(k)``: co-partitioned co-sorted tables join
  with zero shuffle, exactly the composite-join precondition).

Commit protocol (``M/FileOutputCommitter.java`` temp-dir + atomic
promote) is Spark's built-in FileCommitProtocol — nothing to build.

Scale notes: every writer takes ``partition_cols``/bucket counts so the
on-disk layout matches downstream access; at 100 TB choose bucket counts
~= cluster cores and partition columns with bounded cardinality (date,
region) — never high-cardinality demux (the reference had the same
constraint: one output file per distinct derived path).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def write_table(df: DataFrame, path: str, mode: str = "overwrite", partition_cols: list[str] | None = None) -> None:
    """Columnar sink (Parquet+zstd) — the SequenceFile successor."""
    w = df.write.mode(mode)
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(path)


def write_sequence_file(df: DataFrame, path: str, key_col: str, value_col: str) -> None:
    """REAL SequenceFile sink (SequenceFileOutputFormat analog) for
    interop with reference-era consumers still reading binary KV files.
    ``saveAsSequenceFile`` infers the Writables from the runtime values
    (str→Text, int→Int/LongWritable, float→DoubleWritable,
    bytes→BytesWritable) — keep each column's Python type uniform (cast
    in the DataFrame first). Splittable output (sync markers), readable
    back via :func:`~.readers.read_sequence_file`. Steady-state storage
    should still be Parquet (write_table); this is the compat bridge."""
    df.select(key_col, value_col).rdd.map(tuple).saveAsSequenceFile(path)


def write_kv_text(df: DataFrame, path: str, key_col: str, value_col: str, sep: str = "\t", compression: str | None = None) -> None:
    """TextOutputFormat: ``key <sep> value`` lines (+ optional codec)."""
    out = df.select(F.concat_ws(sep, F.col(key_col).cast("string"), F.col(value_col).cast("string")).alias("value"))
    w = out.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.text(path)


def write_sorted(df: DataFrame, path: str, sort_cols: list[str], num_files: int | None = None, bloom_cols: list[str] | None = None) -> None:
    """MapFileOutputFormat analog: globally range-partitioned, sorted
    within files; Parquet row-group stats = the sparse index, optional
    bloom filters = BloomMapFile negative-lookup speedup."""
    if num_files:
        out = df.repartitionByRange(num_files, *sort_cols)
    else:
        out = df.repartitionByRange(*sort_cols)
    w = out.sortWithinPartitions(*sort_cols).write.mode("overwrite")
    for c in bloom_cols or []:
        w = w.option(f"parquet.bloom.filter.enabled#{c}", "true")
    w.parquet(path)


def write_partitioned(df: DataFrame, path: str, partition_fn: Column, partition_name: str = "part") -> None:
    """MultipleOutputFormat demux: ``generateFileNameForKeyValue`` becomes
    a derived column; one directory per distinct value."""
    df.withColumn(partition_name, partition_fn).write.mode("overwrite").partitionBy(partition_name).parquet(path)


def multi_sink(df: DataFrame, sinks: dict[str, tuple[Column, Callable[[DataFrame], None]]]) -> dict[str, int]:
    """MultipleOutputs: N named side outputs from ONE pass over the data.
    ``sinks`` maps name -> (row predicate, writer fn). The input is
    cached so the source is read once (the reference's single-job
    guarantee); returns per-sink row counts (its counters)."""
    df = df.cache()
    counts: dict[str, int] = {}
    try:
        for name, (pred, writer) in sinks.items():
            part = df.filter(pred)
            writer(part)
            counts[name] = part.count()
    finally:
        df.unpersist()
    return counts


def null_sink(df: DataFrame) -> int:
    """NullOutputFormat: run the full plan, write nothing, return count."""
    return df.count()


def write_jdbc(df: DataFrame, url: str, table: str, mode: str = "append", batch_size: int = 1000, **options: str) -> None:
    """DBOutputFormat batched INSERT → df.write.jdbc with batchsize."""
    w = df.write.mode(mode).format("jdbc").option("url", url).option("dbtable", table).option("batchsize", str(batch_size))
    for k, v in options.items():
        w = w.option(k, v)
    w.save()


def compact(spark: SparkSession, src_path: str, dst_path: str, target_file_mb: int = 512) -> int:
    """HadoopArchives/HAR analog: rewrite a many-small-files dataset into
    ~target-sized files. Returns the chosen file count. At 100 TB run
    per-partition (pass a partition subdir) to bound the shuffle."""
    df = spark.read.parquet(src_path)
    total_bytes = _dir_bytes(spark, src_path)
    n = max(1, int(total_bytes / (target_file_mb * 1024 * 1024)) + 1)
    df.coalesce(n).write.mode("overwrite").parquet(dst_path)
    return n


def _dir_bytes(spark: SparkSession, path: str) -> int:
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.getContentSummary(hpath).getLength()


def ensure_managed_creatable(spark: SparkSession, table_name: str) -> None:
    """Make a managed-table create orphan-proof. Spark refuses to create
    a managed table whose default warehouse directory already exists on
    disk (LOCATION_ALREADY_EXISTS) — and an interrupted earlier PROCESS
    (in-memory catalog gone, files left behind) strands exactly such a
    directory. If the catalog has no table under this name, the
    directory is an orphan by definition: delete it so the create can
    proceed. No-op when the table exists (its location is live, and the
    caller's own DROP/overwrite handles it), the database does not
    exist, or the directory is absent.

    An unqualified name resolves in the CURRENT database, exactly as
    the create that follows will, and the directory deleted is the one
    the catalog reports for that database (``locationUri``) — never a
    path guessed from the warehouse root, which under a non-default
    current database would be ``default.<table>``'s live data."""
    from pyspark.errors import AnalysisException

    parts = table_name.split(".")
    db = parts[-2] if len(parts) > 1 else spark.catalog.currentDatabase()
    name = parts[-1]
    try:
        # the one-argument qualified form: tableExists(name, dbName=)
        # is deprecated and warns on every call
        quoted = ".".join("`" + part.replace("`", "``") + "`" for part in (db, name))
        if spark.catalog.tableExists(quoted):
            return
        db_uri = spark.catalog.getDatabase(db).locationUri
    except AnalysisException:
        return  # no such database: the create itself will refuse
    jvm = spark._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    hpath = Path(Path(db_uri), name.lower())
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(hpath, True)


def _check_table_path(path: str | None) -> None:
    """Refuse an external table path Spark cannot write: it reads a
    table location as a glob pattern, where a backslash is an escape
    (``saveAsTable`` then fails with ``Illegal file pattern``, after
    the old table is dropped)."""
    if path is not None and "\\" in path:
        raise ValueError(
            f"table path {path!r} contains a backslash ('\\'), which Spark "
            "reads as a glob escape in a table location — choose a path "
            "without it"
        )


def overwrite_table(df: DataFrame, table_name: str, path: str | None = None) -> None:
    """Replace catalog table ``table_name`` with ``df`` as plain Parquet:
    EXTERNAL at ``path`` when given, else a managed table created
    orphan-proof (:func:`ensure_managed_creatable`). The one writer for
    a persisted state's small side tables (meta rows, IVF codebook, PQ
    sub-codebooks). A ``path`` with a backslash is refused before any
    catalog change."""
    _check_table_path(path)
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    w = df.write.mode("overwrite").format("parquet")
    if path is not None:
        w = w.option("path", path)
    else:
        ensure_managed_creatable(spark, table_name)
    w.saveAsTable(table_name)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """CompositeInputFormat's physics: co-partitioned co-sorted layout so
    same-bucketed tables sort-merge-join with NO shuffle
    (``M/join/CompositeInputFormat.java:48``, SURVEY §4). Saved as a
    catalog table (bucketing metadata lives in the metastore); pass
    ``path`` to make it EXTERNAL — overwrite then survives a stale
    on-disk location from a previous session, which a managed table
    refuses (LOCATION_ALREADY_EXISTS against a fresh catalog).

    ``mode="append"`` adds new bucket files to an EXISTING table (each
    append writes its own bucketed file set; readers merge per-bucket) —
    the incremental-state update path (MapFile-style probe-able state,
    the reference's ``src/core/org/apache/hadoop/io/MapFile.java:521``).
    A ``path`` with a backslash is refused before any catalog change."""
    _check_table_path(path)
    if mode == "overwrite":
        df.sparkSession.sql(f"DROP TABLE IF EXISTS {table_name}")
    elif path is not None:
        # An append goes to the EXISTING table's location; honoring a
        # caller path here is impossible, and silently dropping it would
        # let a missing table materialize as a managed table at the
        # warehouse location — diverging from the requested external
        # path without a trace. Loud failure instead.
        raise ValueError(
            f"write_bucketed(mode='append') writes to {table_name}'s existing "
            "location; 'path' is only valid with mode='overwrite'"
        )
    writer = (
        df.write.mode(mode)
        .bucketBy(num_buckets, *bucket_cols)
        .sortBy(*(sort_cols or bucket_cols))
        .format("parquet")
    )
    if path is not None:
        writer = writer.option("path", path)
    else:
        ensure_managed_creatable(df.sparkSession, table_name)
    writer.saveAsTable(table_name)
