"""Table catalog over the driver's Parquet testdata layout.

The reference has no catalog — "schema" is whatever Writable classes a
JobConf declares (SURVEY.md §1.1). Here the catalog is explicit: one
Parquet file (or directory) per table under a scale-factor directory.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Dimension tables small enough to broadcast at ANY scale factor (region
# and nation are bounded by geography, not data volume). At 100 TB these
# stay broadcast-joinable; customer/supplier/part grow with SF and are
# left to AQE's size-based broadcast decision.
ALWAYS_BROADCAST = {"region", "nation"}


def ensure_events_conf(spark: SparkSession) -> None:
    """Runtime confs that make ``events.ts`` read the SAME way on ANY
    session — the single place the engine pins its timestamp contract.

    The driver has shipped events.parquet under two physical encodings
    so far (TIMESTAMP(NANOS) in round 1, TIMESTAMP(MICROS,
    isAdjustedToUTC=false) in round 2); both must normalize to a plain
    ``TimestampType`` instant:

    - ``nanosAsLong``: NANOS columns surface as bigint (nanos) instead
      of failing the scan; ``normalize_event_ts`` converts them.
    - ``inferTimestampNTZ=false``: MICROS/isAdjustedToUTC=false columns
      surface as ``TimestampType`` (raw micros = micros-since-epoch, no
      tz adjustment) instead of ``TIMESTAMP_NTZ``, whose epoch casts
      Spark forbids.
    - ``session.timeZone=UTC``: naive-vs-instant equivalence with the
      DuckDB oracle's ``epoch()`` must not depend on the JVM default tz
      (the driver hands us a vanilla session that inherits it).

    All three are runtime-settable SQL confs; safe to call repeatedly.
    Failures are swallowed so a session that forbids a conf still works
    for events-free tables."""
    for key, val in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
        ("spark.sql.session.timeZone", "UTC"),
    ):
        try:
            spark.conf.set(key, val)
        except Exception:
            pass
    # The timezone pin is the one conf whose silent loss changes ANSWERS
    # (the NTZ fallback casts in normalize_event_ts/epoch_seconds become
    # JVM-default-tz dependent) rather than just failing a scan — so its
    # absence must be loud, not swallowed.
    try:
        tz = spark.conf.get("spark.sql.session.timeZone")
    except Exception:
        tz = None
    if tz != "UTC":
        import warnings

        warnings.warn(
            f"session.timeZone={tz!r} (wanted UTC and the session rejected it): "
            "events timestamp normalization of TIMESTAMP_NTZ data is now "
            "JVM-timezone-dependent",
            stacklevel=2,
        )


# Back-compat alias (round-1/2 call sites and tests import this name).
ensure_nanos_conf = ensure_events_conf


def normalize_event_ts(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Normalize an events timestamp column to ``TimestampType``
    whatever physical encoding it was read as. Works on batch AND
    streaming DataFrames (pure column expressions, one cast at the
    scan, JVM-side).

    - bigint  → legacy TIMESTAMP(NANOS) under nanosAsLong: integer-
      divide to micros (``/`` would divide as double and round on the
      half-microsecond, off-by-1µs vs engines that truncate — DuckDB).
    - timestamp_ntz → fallback when inferTimestampNTZ couldn't be
      disabled: reinterpret the naive value as UTC (session tz is
      pinned to UTC by ensure_events_conf, so the cast is lossless).
    - timestamp → already the contract type; no-op."""
    from pyspark.sql import functions as F

    dt = dict(df.dtypes).get(ts_col)
    if dt == "bigint":
        df = df.withColumn(ts_col, F.timestamp_micros(F.expr(f"{ts_col} div 1000")))
    elif dt == "timestamp_ntz":
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def epoch_seconds(col):
    """Dtype-safe epoch-seconds projection for any timestamp flavor.

    The leading ``cast("timestamp")`` is a no-op on TimestampType and a
    UTC reinterpretation on TIMESTAMP_NTZ (session tz pinned by
    ensure_events_conf), so the final BIGINT cast — illegal directly on
    NTZ — is always legal. Matches DuckDB ``CAST(floor(epoch(ts)) AS
    BIGINT)`` for non-negative epochs."""
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    return c.cast("timestamp").cast("long")


#: In-process schema memo for catalog tables, keyed by path with a
#: (fingerprint, schema) value — a rewrite REPLACES the entry, so the
#: memo is bounded by the number of distinct table paths (round-14
#: ADVICE: the old (path, mtime) key accumulated one entry per rewrite).
#: METADATA only — the exact metastore contract (a catalog table's
#: schema is read from the catalog, not re-inferred per query): every
#: query still lists and reads the parquet files themselves. Without
#: it, each load_table pays a footer-read schema-inference job — a
#: 6-table join re-inferred 6 schemas per build (measured round 14 at
#: sf0.1: q5 1.16 s -> 0.78 s cached). Entries are per-process, so
#: fresh driver runs always infer from the files first.
_SCHEMA_CACHE: dict[str, tuple[tuple, object]] = {}


def _table_fingerprint(local_path: str) -> tuple:
    """Invalidation token for a table path: (max leaf mtime_ns, file
    count, total bytes). For directory tables the DIRECTORY mtime alone
    is not enough (round-14 VERDICT/ADVICE): an in-place overwrite of a
    part file under the same name changes no directory entry, so only
    the leaf mtimes see it. Spark-style delete+recreate rewrites move
    all three components. One driver-local listing, the same class of
    work as Spark's own file-listing for the scan."""
    st = os.stat(local_path)
    if not os.path.isdir(local_path):
        return (st.st_mtime_ns, 1, st.st_size)
    mtime_ns, count, total = st.st_mtime_ns, 0, 0
    for root, _dirs, files in os.walk(local_path):
        for f in files:
            s = os.stat(os.path.join(root, f))
            mtime_ns = max(mtime_ns, s.st_mtime_ns)
            count += 1
            total += s.st_size
    return (mtime_ns, count, total)


def _fingerprint_or_none(path: str) -> tuple | None:
    try:
        return _table_fingerprint(path.removeprefix("file:"))
    except OSError:
        return None  # non-local path: skip the memo, never the read


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one catalog table. Columnar Parquet scan: Catalyst prunes
    columns and pushes predicates down to the reader for free.

    events.ts goes through the engine's ONE timestamp choke point
    (ensure_events_conf + normalize_event_ts) so every downstream query
    sees ``TimestampType`` regardless of the file's physical encoding.
    (Inference always runs under ensure_events_conf's pinned encoding
    confs, so a memoized schema is session-independent.)"""
    ensure_events_conf(spark)
    path = f"{sf_dir}/{name}.parquet"
    token = _fingerprint_or_none(path)
    hit = _SCHEMA_CACHE.get(path) if token is not None else None
    if hit is not None and hit[0] == token:
        df = spark.read.schema(hit[1]).parquet(path)
    else:
        df = spark.read.parquet(path)
        # Fingerprint again after inference: a rewrite landing between
        # the two must not memoize its schema under the older token.
        if token is not None and _fingerprint_or_none(path) == token:
            _SCHEMA_CACHE[path] = (token, df.schema)
    if name == "events":
        df = normalize_event_ts(df)
    return df


def _size_conf_bytes(spark: SparkSession, key: str, default: int) -> int:
    """Parse a Spark size conf ("128MB", "4194304b", "33554432") to bytes."""
    try:
        raw = str(spark.conf.get(key)).strip().lower()
    except Exception:
        return default
    units = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    num, mult = raw, 1
    for suffix in ("kb", "mb", "gb", "tb", "b", "k", "m", "g", "t"):
        if raw.endswith(suffix):
            num, mult = raw[: -len(suffix)], units[suffix[0]]
            break
    try:
        return int(float(num) * mult)
    except ValueError:
        return default


def estimate_scan_partitions(df: DataFrame) -> int | None:
    """Estimate how many partitions a file scan will plan WITHOUT
    converting the plan through the RDD path (round-7 review: the old
    ``df.rdd.getNumPartitions()`` probe analyzed the whole plan through
    the Python RDD conversion on every flagship-query build). This
    replays Spark's own public split-planning arithmetic
    (``FilePartition.maxSplitBytes`` + ``getFilePartitions``'s greedy
    bin-fill): bytesPerCore = (totalSize + files*openCost)/
    defaultParallelism; maxSplit = min(maxPartitionBytes, max(openCost,
    bytesPerCore)); files chopped into maxSplit pieces, sorted
    size-descending, packed while currentSize + split <= maxSplit with
    openCost charged per split. Returns None when the inputs aren't
    driver-listable local files (this catalog's local-path contract —
    same posture as ``stream_table``'s isdir probe); callers treat
    unknown as "big enough", the right default for a remote FS."""

    import os
    from urllib.parse import unquote, urlparse

    files = df.inputFiles()
    if not files:
        return None
    spark = df.sparkSession
    # Bucketed catalog tables don't follow split arithmetic at all —
    # the scan plans ONE partition per bucket regardless of file sizes
    # (round-8 ADVICE: replaying FilePartition math here made
    # fan_out_small_scan repartition a layout whose bucket co-location
    # is the point). Treat as unknown/big, the remote-FS posture. The
    # analyzed plan is already materialized (analysis is eager), so
    # walking its leaves costs no extra planning.
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        n_leaves = leaves.size()
    except Exception:  # noqa: BLE001 — plan types without collectLeaves
        n_leaves = 0
        leaves = None
    for i in range(n_leaves):
        # per-leaf try (round-9 review): a LocalRelation leaf has no
        # .relation(), and a union's first such leaf must not abort the
        # scan before a bucketed leaf later in the plan is seen
        try:
            rel = leaves.apply(i).relation()
            if rel.bucketSpec().isDefined():
                return None
        except Exception:  # noqa: BLE001 — non-LogicalRelation / non-FS leaf
            continue
    # Non-splittable inputs (compressed text: one split per FILE, never
    # chopped — parquet/orc stay splittable whatever their codec, and
    # their files end in .parquet/.orc, not these suffixes).
    whole_file = (".gz", ".zip", ".deflate", ".snappy", ".lz4", ".zst", ".br")
    sizes = []
    unsplittable = []
    for f in files:
        p = urlparse(f)
        if p.scheme not in ("", "file"):
            return None
        try:
            # inputFiles() returns URIs: a path with a space arrives
            # %20-encoded and getsize on the raw form raises, silently
            # disabling the fan-out (round-8 review) — decode first.
            sz = os.path.getsize(unquote(p.path) or f)
        except OSError:
            return None
        if f.lower().endswith(whole_file):
            unsplittable.append(sz)
        else:
            sizes.append(sz)
    open_cost = _size_conf_bytes(spark, "spark.sql.files.openCostInBytes", 4 << 20)
    mpb = _size_conf_bytes(spark, "spark.sql.files.maxPartitionBytes", 128 << 20)
    cores = spark.sparkContext.defaultParallelism
    n_files = len(sizes) + len(unsplittable)
    total = sum(sizes) + sum(unsplittable)
    bytes_per_core = (total + open_cost * n_files) / max(cores, 1)
    max_split = min(mpb, max(open_cost, bytes_per_core))
    splits: list[int] = [int(sz) for sz in unsplittable]  # one split per file
    for sz in sizes:
        while sz > max_split:
            splits.append(int(max_split))
            sz -= max_split
        splits.append(int(sz))
    splits.sort(reverse=True)
    parts, cur = 0, 0
    for s in splits:
        if cur + s > max_split and cur > 0:
            parts += 1
            cur = 0
        cur += s + open_cost
    return parts + (1 if cur > 0 else 0) or 1


def fan_out_small_scan(df: DataFrame, min_fraction_of_cores: float = 0.5) -> DataFrame:
    """Round-robin fan-out for a scan that yields fewer partitions than
    the cluster has cores to spend — the NLineInputFormat idea
    (``/root/reference/src/mapred/org/apache/hadoop/mapred/lib/
    NLineInputFormat.java``: split a SMALL input finer than its block
    structure precisely because the per-record compute, not the I/O,
    is the cost). Use BEFORE an expensive per-row projection (HOF
    aggregates, shingling, codecs) when the input may arrive as a few
    small files: one cheap exchange of the raw rows buys full-width
    parallelism for the projection. A no-op whenever the scan already
    carries enough splits — at 100 TB the condition never fires, so
    this is purely the small-corpus/dev-scale ergonomic, costing
    nothing where the data is big enough to split naturally. The split
    probe is a driver-side file listing (:func:`estimate_scan_partitions`
    — no RDD-path plan conversion, no job); unknown layouts (remote FS,
    non-file relations) are treated as big and left alone."""
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    est = estimate_scan_partitions(df)
    if est is not None and est < max(int(cores * min_fraction_of_cores), 1):
        return df.repartition(cores)
    return df


def stream_table(spark: SparkSession, sf_dir: str, name: str = "events") -> DataFrame:
    """File-source STREAM over one catalog table with the same
    normalized schema the batch path produces.

    The declared readStream schema is taken from a batch read of the
    same file (schema-only; no data scan), so it can never drift from
    the physical encoding the way a hand-declared string schema did in
    round 2 — the structural bug behind the events_stream_* wrong
    answers. BOTH physical layouts stream correctly: a directory of
    part files is read directly (the FileStreamSource requires a
    directory basePath), while a single-file table goes through the
    ``pathGlobFilter`` form over the scale-factor directory — the
    glob alone would match only leaf file NAMES, so a directory-shaped
    table under it would have streamed zero rows with no error. (The
    isdir probe is driver-local, matching this catalog's local-path
    contract; a remote-FS catalog would ask the Hadoop FileSystem.)"""
    import os

    ensure_events_conf(spark)
    path = f"{sf_dir}/{name}.parquet"
    schema = spark.read.parquet(path).schema
    if os.path.isdir(path):
        sdf = spark.readStream.schema(schema).parquet(path)
    else:
        sdf = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", f"{name}.parquet")
            .parquet(sf_dir)
        )
    if name == "events":
        sdf = normalize_event_ts(sdf)
    return sdf


def register_tables(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> None:
    """Register every table as a temp view so SQL-form queries work."""
    for name in tables or TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
