"""Readers (SURVEY.md §2.1 scans).

Reference InputFormats → Spark sources:
- TextInputFormat (``M/TextInputFormat.java:35``) → ``read_text`` (codec
  detection is automatic; gzip/bzip2 splits handled by Spark).
- KeyValueTextInputFormat (``M/KeyValueTextInputFormat.java:34``) →
  ``read_kv_text`` (split at first separator).
- SequenceFile family → Parquet (``read_table``); the engine standardizes
  on columnar storage (SURVEY §1.3).
- DBInputFormat (``M/lib/db/DBInputFormat.java:49``) → ``read_jdbc``
  (partitioned SELECTs — same per-split LIMIT/OFFSET idea, done right
  with partitionColumn ranges).
- Bad-record skipping (``M/SkipBadRecords.java:51``) → PERMISSIVE parse
  modes + corrupt-record capture, plus ``badrecords_safe_udf`` for UDF
  crashes (the reference binary-searched poison records; we catch and
  null them with a counter).

Split planning (FileInputFormat.getSplits:326 — max(minSize,
min(goalSize, blockSize))) is Spark's FilePartition packing, tuned via
``spark.sql.files.maxPartitionBytes`` in session.py.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_text(spark: SparkSession, path: str) -> DataFrame:
    """Line records (column ``value``) — TextInputFormat."""
    return spark.read.text(path)


def read_kv_text(
    spark: SparkSession, path: str, sep: str = "\t", key_name: str = "key", value_name: str = "value"
) -> DataFrame:
    """KV lines split at the FIRST separator (KeyValueLineRecordReader
    semantics: everything after the first sep is the value)."""
    key_expr, value_expr = split_first_sep(F.col("value"), sep)
    return read_text(spark, path).select(
        key_expr.alias(key_name), value_expr.alias(value_name)
    )


def split_first_sep(line, sep: str = "\t"):
    """(key, value) column pair splitting at the FIRST separator —
    KeyValueLineRecordReader semantics (no sep → whole line is the key,
    empty value). The ONE implementation of this contract: Column-API
    substr with BOUND positions (no SQL-string interpolation, so a
    quote in sep can't break the expression) and the value starting at
    idx + len(sep) (multi-character separators split correctly:
    'a::b' -> value 'b', not ':b')."""
    idx = F.instr(line, sep)
    key_expr = F.when(idx > 0, F.substring_index(line, sep, 1)).otherwise(line)
    value_expr = F.when(idx > 0, line.substr(idx + len(sep), F.length(line))).otherwise(F.lit(""))
    return key_expr, value_expr


def read_xml_records(
    spark: SparkSession, path: str, record_tag: str, out_name: str = "record"
) -> DataFrame:
    """XML-ish record scan — StreamXmlRecordReader (``X/streaming/.../
    StreamXmlRecordReader.java``): one row per ``<tag>...</tag>`` span.

    Implemented as whole-file text + non-greedy DOTALL regex extraction
    (records may span lines), exploded to rows. NOTE: ``wholetext`` makes
    each file one task — matching the reference's practical usage (it
    could not split mid-record either); at scale, land many medium files
    (the demux sink does) so parallelism comes from file count.
    """
    pat = f"(?s)<{record_tag}(?:\\s[^>]*)?>.*?</{record_tag}>"
    return (
        spark.read.text(path, wholetext=True)
        .select(F.explode(F.regexp_extract_all(F.col("value"), F.lit(pat), 0)).alias(out_name))
    )


def read_text_nlines(spark: SparkSession, path: str, lines_per_task: int) -> DataFrame:
    """N-line scan — NLineInputFormat (``M/lib/NLineInputFormat.java:59``):
    bound the number of records each task processes (per-task
    parameterization for expensive downstream UDFs).

    Spark analog: text read repartitioned to ceil(lines/N) partitions.
    Costs one count + a round-robin shuffle — only worth it when the
    per-record work dwarfs the shuffle (the reference's use case too).
    """
    df = spark.read.text(path)
    total = df.count()
    parts = max(1, -(-total // max(1, lines_per_task)))
    return df.repartition(parts)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    sep: str = ",",
    header: bool = False,
    permissive: bool = True,
) -> DataFrame:
    """CSV with bad-record tolerance: PERMISSIVE mode + _corrupt_record
    column (the SkipBadRecords analog for parse errors)."""
    reader = spark.read.option("sep", sep).option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
        if permissive:
            reader = reader.option("mode", "PERMISSIVE").option(
                "columnNameOfCorruptRecord", "_corrupt_record"
            )
    return reader.csv(path)


def read_json(
    spark: SparkSession, path: str, schema: T.StructType | str | None = None, permissive: bool = True
) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if permissive:
        reader = reader.option("mode", "PERMISSIVE")
    return reader.json(path)


# SURVEY §1.2 Writable → Spark SQL type mapping (reference:
# src/core/org/apache/hadoop/io/*.java). Keys are the Writable class
# short names a reference warehouse's JobConf would declare.
WRITABLE_TO_SPARK: dict[str, T.DataType] = {
    "BooleanWritable": T.BooleanType(),
    "ByteWritable": T.ByteType(),
    "IntWritable": T.IntegerType(),
    "VIntWritable": T.IntegerType(),
    "LongWritable": T.LongType(),
    "VLongWritable": T.LongType(),
    "FloatWritable": T.FloatType(),
    "DoubleWritable": T.DoubleType(),
    "Text": T.StringType(),
    "UTF8": T.StringType(),
    "BytesWritable": T.BinaryType(),
    "MD5Hash": T.BinaryType(),
    "NullWritable": T.NullType(),
}


def _writable_type(spec: str | T.DataType) -> T.DataType:
    if isinstance(spec, T.DataType):
        return spec
    if spec in WRITABLE_TO_SPARK:
        return WRITABLE_TO_SPARK[spec]
    return T._parse_datatype_string(spec)  # "string", "bigint", ...


def read_sequence_file(
    spark: SparkSession,
    path: str,
    key_type: str | T.DataType = "Text",
    value_type: str | T.DataType = "Text",
    key_name: str = "key",
    value_name: str = "value",
    min_partitions: int | None = None,
) -> DataFrame:
    """REAL SequenceFile ingest — the first thing a migration from the
    reference warehouse hits (30 PB of binary KV files before any
    Parquet exists). Reference: SequenceFile.java:186 (header/record
    format, sync markers), SequenceFileInputFormat.java.

    ``sc.sequenceFile`` reads the Writable pairs JVM-side (sync markers
    make the files SPLITTABLE — split planning is the same
    FileInputFormat math as text); Pyrolite converts each Writable to
    its Python value, and we stamp the declared schema on top
    (``key_type``/``value_type`` accept Writable class names per
    SURVEY §1.2 — "Text", "LongWritable" — or Spark type strings).

    Scale: this path pays one pickle boundary per record — correct for
    ingest/migration, wrong as a steady-state scan. Migrate once with
    :func:`sequence_to_parquet` and scan columnar thereafter (the
    engine's SequenceFile→Parquet standardization, SURVEY §1.3)."""
    kt, vt = _writable_type(key_type), _writable_type(value_type)
    rdd = spark.sparkContext.sequenceFile(path, minSplits=min_partitions)

    def norm(v, want_bytes: bool):
        if want_bytes and isinstance(v, bytearray):
            return bytes(v)
        return v

    kb, vb = isinstance(kt, T.BinaryType), isinstance(vt, T.BinaryType)
    schema = T.StructType(
        [T.StructField(key_name, kt, True), T.StructField(value_name, vt, True)]
    )
    return spark.createDataFrame(
        rdd.map(lambda kv: (norm(kv[0], kb), norm(kv[1], vb))), schema
    )


def sequence_to_parquet(
    spark: SparkSession,
    src: str,
    dest: str,
    key_type: str | T.DataType = "Text",
    value_type: str | T.DataType = "Text",
    **read_kwargs,
) -> DataFrame:
    """One-shot SequenceFile→Parquet migration (read once through the
    pickle boundary, write columnar+zstd, scan fast forever). Returns
    the migrated DataFrame reading from ``dest``."""
    df = read_sequence_file(spark, src, key_type, value_type, **read_kwargs)
    df.write.mode("overwrite").parquet(dest)
    return spark.read.parquet(dest)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 8,
    **options: str,
) -> DataFrame:
    """JDBC scan — DBInputFormat's per-split SELECT ... LIMIT/OFFSET
    (``getSelectQuery:87``) done as range-partitioned parallel reads.
    Needs a JDBC driver on the classpath; round-tripped in tests against
    Spark's embedded Derby (``org.apache.derby.jdbc.EmbeddedDriver``)."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def jdbc_select_query(table: str, fields: list[str], conditions: str | None = None, order_by: str | None = None) -> str:
    """Construct the DBInputFormat SELECT (``getSelectQuery:87``
    semantics: SELECT f1,f2 FROM t WHERE cond ORDER BY k) — split
    pagination is handled by Spark's partitionColumn ranges instead of
    LIMIT/OFFSET (which is O(offset) per split on most DBs)."""
    q = f"SELECT {', '.join(fields)} FROM {table}"
    if conditions:
        q += f" WHERE {conditions}"
    if order_by:
        q += f" ORDER BY {order_by}"
    return q


def badrecords_safe_cast(col, dtype: str):
    """Expression fast path for the SkipBadRecords contract: a malformed
    value becomes NULL instead of failing the task, entirely inside
    whole-stage codegen (``try_cast`` — no Python in the plan). Prefer
    this (or Spark's ``try_divide``/``try_to_timestamp``/... family)
    whenever the per-record transform is expressible as an expression;
    reach for :func:`badrecords_safe_udf` only for arbitrary Python."""
    c = F.col(col) if isinstance(col, str) else col
    return c.try_cast(dtype)


def badrecords_safe_udf(fn: Callable, return_type, counter_name: str = "bad_records"):
    """Wrap a Python fn so records that crash it yield NULL instead of
    failing the task — the SkipBadRecords capability without the
    binary-search dance (``SkipBadRecords.java:51``: we don't re-execute
    a narrowed range; we tolerate inline).
    Use with ``df.withColumn(..., safe(col)); df.filter(col.isNotNull())``.

    Rows ship in Arrow batches and ``fn`` runs per row inside a
    ``try/except`` in-process per batch — per-record isolation without
    the per-row (de)serialization round-trip of a row-at-a-time UDF
    (a BatchEvalPython node, the classic 100 TB throughput killer).
    ``fn`` sees the values a row UDF would hand it: SQL NULL as None,
    timestamps as datetime, arrays as lists.
    For SQL-expressible transforms skip Python entirely:
    :func:`badrecords_safe_cast` / ``F.try_*``."""
    import numpy as np
    import pandas as pd

    def _pyval(v):
        # Match what a row UDF would hand fn: SQL NULL as None (pandas
        # delivers NaN/NaT in typed Series), timestamps as datetime,
        # arrays as lists — otherwise a fn written against the row
        # contract (e.g. `if v is None`) silently changes behavior.
        if isinstance(v, np.ndarray):
            return v.tolist()
        if isinstance(v, pd.Timestamp):
            return v.to_pydatetime()
        if v is None or v is pd.NaT:
            return None
        if isinstance(v, float) and np.isnan(v):
            return None
        return v

    @F.pandas_udf(return_type)
    def safe(*cols):
        out = []
        for vals in zip(*cols):
            try:
                out.append(fn(*(_pyval(v) for v in vals)))
            except Exception:
                out.append(None)
        return pd.Series(out, dtype="object")

    return safe


def scan_time_filters(df: DataFrame, key_col: str, regex: str | None = None, percent_mod: int | None = None) -> DataFrame:
    """Scan-time record filters — SequenceFileInputFilter's
    RegexFilter(:103) and PercentFilter(:146): both become pushed-down
    predicates (Parquet row-group skipping via stats where possible)."""
    out = df
    if regex is not None:
        out = out.filter(F.col(key_col).cast("string").rlike(regex))
    if percent_mod is not None:
        out = out.filter(F.pmod(F.col(key_col), F.lit(percent_mod)) == 0)
    return out


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    key_col: str,
    default_rate: float = 0.0,
    salt: str | None = None,
) -> DataFrame:
    """Deterministic stratified sampling — per-stratum keep rates with a
    content-addressed coin: row kept iff the first 8 hex chars of
    md5(key) fall below the stratum's threshold. Rebalancing corpora
    (downsample over-represented event types / languages / sources) is
    a standard training-data step; determinism means reruns and
    incremental loads select the SAME rows (unlike rand()-based
    sampleBy), and md5 makes the selection reproducible in any engine.

    ``salt``: namespace the coin (md5(salt || key)) when the SAME key
    feeds more than one coin-based decision in a pipeline. Unsalted,
    two decisions share one uniform variate and correlate perfectly —
    e.g. sampling at rate r then assign_split'ing the survivors would
    put EVERY survivor of a thinned stratum into 'train' (both tests
    are ``coin < threshold`` on the same value). Default None keeps the
    original coin (the registered query's oracle replays it).

    Lexicographic compare of fixed-width lowercase hex == numeric
    compare, so the whole filter is one codegen'd expression, pushed to
    the scan. Skew note: sampling is row-local — no shuffle at any
    scale."""
    def hex_threshold(rate: float) -> str:
        # 'g' sorts after every hex digit -> keeps ALL rows (rate >= 1
        # must not drop the coin value 'ffffffff').
        return "g" if rate >= 1.0 else format(max(int(rate * 16**8), 0), "08x")

    expr = None
    for stratum, rate in rates.items():
        cond = F.col(strata_col) == stratum
        t = hex_threshold(rate)
        expr = F.when(cond, F.lit(t)) if expr is None else expr.when(cond, F.lit(t))
    # Empty rates dict = uniform sampling at default_rate (no CASE chain
    # to hang the otherwise() off).
    thr = (
        F.lit(hex_threshold(default_rate))
        if expr is None
        else expr.otherwise(F.lit(hex_threshold(default_rate)))
    )
    keyed = (
        F.col(key_col).cast("string")
        if salt is None
        else F.concat(F.lit(salt), F.col(key_col).cast("string"))
    )
    coin = F.substring(F.md5(keyed), 1, 8)
    return df.filter(coin < thr)


def assign_split(
    df: DataFrame,
    key_col: str,
    splits: dict[str, float] | None = None,
    out_name: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: the md5-coin of the key
    (same coin as stratified_sample) lands in [0,1); cumulative split
    fractions partition that interval. Content-addressed ⇒ a document
    keeps its split across reruns, incremental loads, and engines — the
    property that prevents test-set leakage when a corpus is rebuilt.
    Row-local (scan-fused, zero shuffle) at any scale."""
    splits = splits or {"train": 0.98, "val": 0.01, "test": 0.01}
    coin = (
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10).cast("double")
        / F.lit(float(1 << 32))
    )
    expr = None
    acc = 0.0
    items = list(splits.items())
    for name, frac in items[:-1]:
        acc += frac
        cond = coin < F.lit(acc)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return df.withColumn(out_name, expr)


def mix_corpora(
    df: DataFrame,
    source_col: str,
    weight_col: str,
    target_weights: dict[str, float],
    key_col: str,
) -> tuple[DataFrame, dict[str, float]]:
    """Deterministic corpus MIXING: downsample each source so the
    retained ``weight_col`` mass (tokens, usually) hits the target
    proportions — the "40% web, 30% books, 20% code, 10% wiki" recipe
    every LLM training mix specifies. Returns ``(sampled_df, rates)``;
    the rates are also the audit trail.

    The solver maximizes total retained mass subject to the
    proportions and per-source availability: the BINDING source (the
    one whose availability/share ratio is smallest) is kept at rate
    1.0 and every other source is thinned to match — no source is ever
    oversampled (this op mixes by THINNING; upsampling/repeating is a
    different, epoch-level decision). Sources absent from
    ``target_weights`` get rate 0 (dropped); target entries with no
    available mass are ignored and the remaining shares renormalized.

    Physics: ONE bounded aggregation (per-source mass — one collected
    row per source), then a single scan-fused
    :func:`stratified_sample` filter — deterministic md5 coin SALTED
    with "mix:" so a downstream :func:`assign_split` on the same key
    stays independent (unsalted, the two decisions would share one
    uniform variate and every survivor of a thinned source would land
    in 'train'), zero shuffle on the sampled pass, reruns and
    incremental loads keep the SAME rows. Proportions are exact in
    expectation; realized mass concentrates around target as
    1/sqrt(rows-per-source) (the coin is per-row, so per-row weight
    variance is averaged out at corpus scale).

    ``df`` is consumed TWICE (the eager mass aggregation + the
    returned lazy filter) — if it is a derived plan rather than a
    table read, persist it first or the upstream DAG re-evaluates
    (the capstone-pipeline lesson, measured 2.9x in SCALING.md)."""
    avail = {
        r["s"]: float(r["w"])
        for r in df.groupBy(F.col(source_col).alias("s"))
        .agg(F.sum(weight_col).alias("w"))
        .collect()
        if r["w"] is not None and r["w"] > 0
    }
    shares = {s: w for s, w in target_weights.items() if w > 0 and s in avail}
    if not shares:
        return df.filter(F.lit(False)), {}
    z = sum(shares.values())
    shares = {s: w / z for s, w in shares.items()}
    total = min(avail[s] / w for s, w in shares.items())

    def rate_of(s: str, w: float) -> float:
        r = w * total / avail[s]
        # The binding source's rate is 1.0 by construction but the FP
        # round-trip (w * (avail/w) / avail) can land at 1 - 1ulp,
        # which would drop coin=='ffffffff' rows from a source the
        # contract says rides whole. Snap the epsilon band to exact.
        return 1.0 if r >= 1.0 - 1e-9 else r

    rates = {s: rate_of(s, w) for s, w in shares.items()}
    sampled = stratified_sample(
        df, source_col, rates, key_col, default_rate=0.0, salt="mix:"
    )
    return sampled, rates
