"""Script-UDF surface (SURVEY.md §2.9) — the Hadoop Streaming analog.

Reference semantics reproduced
(``X/streaming/src/java/org/apache/hadoop/streaming/``):
- Rows flow to a forked executable as ``k <sep> v`` lines on stdin and
  come back on stdout (``PipeMapRed.java:168-314`` fork + pump threads)
  → ``rdd.pipe`` (Spark's exact analog: one subprocess per partition,
  line streams both ways).
- Separator and key-field count are configurable
  (``stream.map.output.field.separator`` /
  ``stream.num.map.output.key.fields``, ``PipeMapper.java:73-75``):
  the output line is split at the Nth separator into (key, value).
- Non-zero subprocess exit fails the task (``PipeMapRed.java:124``,
  ``waitOutputThreads:289-314``) → ``checkCode=True``.
- Reducer-side scripts see a KEY-SORTED, KEY-CONTIGUOUS stream (the
  framework's sort-shuffle guarantee) → ``pipe_grouped`` repartitions on
  the key and sorts within partitions before piping, so a script like
  ``uniq -c`` works unchanged (the reference's test fixtures ``TrApp`` /
  ``UniqApp`` / ``ValueCountReduce`` drive the same contract, SURVEY §5).
- ChainMapper (``M/lib/ChainMapper.java:90`` — mapper pipeline in one
  task, no intermediate I/O) → ``chain`` (Catalyst collapses adjacent
  projections into one WholeStageCodegen span — same zero-I/O property).
- Skip-bad-records mode (``M/SkipBadRecords.java:29-50`` — deterministic
  per-record crashes are narrowed across attempts and a bounded range is
  skipped; reduce side skips whole GROUPS) → ``pipe_skip_bad``
  (chunked subprocess + in-task bisection; skipped lines come back as a
  DataFrame, the ``mapred.skip.out.dir`` analog).

Scale notes: ``pipe`` exists for legacy-script reuse; it is the slow
path (per-row text serialization + a subprocess per partition). New
per-row logic belongs in built-in functions or Arrow-batched pandas
UDFs. The subprocess count equals partition count — at 1000 executors
that is one fork per task, the same process model the reference ran.
"""

from __future__ import annotations

import os
import shlex
import subprocess
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hadoop_20_warehouse_fix_spark.plans.cache import persisted


def _to_lines(df: DataFrame, sep: str) -> "DataFrame":
    cols = [F.col(c).cast("string") for c in df.columns]
    return df.select(F.concat_ws(sep, *cols).alias("line"))


def _parse_kv(line: str, sep: str, num_key_fields: int) -> tuple[str, str]:
    parts = line.split(sep)
    return sep.join(parts[:num_key_fields]), sep.join(parts[num_key_fields:])


def pipe(
    df: DataFrame,
    cmd: str,
    sep: str = "\t",
    num_key_fields: int = 1,
    env: dict[str, str] | None = None,
    check_code: bool = True,
    key_name: str = "key",
    value_name: str = "value",
) -> DataFrame:
    """Map-side script: every row (all columns joined by ``sep``) is a
    stdin line; each stdout line is split at the ``num_key_fields``-th
    separator into (key, value). 0..n output lines per input line — the
    UDTF shape of the reference's Mapper contract."""
    spark = df.sparkSession
    lines = _to_lines(df, sep).rdd.map(lambda r: r.line)
    piped = lines.pipe(cmd, env=env or {}, checkCode=check_code)
    out = piped.map(lambda ln: _parse_kv(ln, sep, num_key_fields))
    return spark.createDataFrame(out, schema=f"{key_name} string, {value_name} string")


def pipe_grouped(
    df: DataFrame,
    key_cols: list[str],
    cmd: str,
    sep: str = "\t",
    num_key_fields: int = 1,
    num_partitions: int | None = None,
    env: dict[str, str] | None = None,
    check_code: bool = True,
    key_name: str = "key",
    value_name: str = "value",
) -> DataFrame:
    """Reduce-side script: repartition on ``key_cols`` + sort within
    partitions, so the subprocess sees each key's rows contiguous and
    sorted — the sort-shuffle contract a streaming reducer relied on.
    The key columns are placed first on each line."""
    ordered = df.select(*key_cols, *[c for c in df.columns if c not in key_cols])
    if num_partitions is not None:
        ordered = ordered.repartition(num_partitions, *key_cols)
    else:
        ordered = ordered.repartition(*key_cols)
    ordered = ordered.sortWithinPartitions(*key_cols)
    spark = df.sparkSession
    lines = _to_lines(ordered, sep).rdd.map(lambda r: r.line)
    piped = lines.pipe(cmd, env=env or {}, checkCode=check_code)
    out = piped.map(lambda ln: _parse_kv(ln, sep, num_key_fields))
    return spark.createDataFrame(out, schema=f"{key_name} string, {value_name} string")


def pipe_tagged(
    sources: list[DataFrame],
    cmd: str,
    sep: str = "\t",
    num_key_fields: int = 1,
    env: dict[str, str] | None = None,
    check_code: bool = True,
    key_name: str = "key",
    value_name: str = "value",
) -> DataFrame:
    """Hive-streaming ``-inputtagged`` variant (reference:
    contrib/hive-streaming StreamJob.java — each input path's rows are
    tagged with the source index so one script can merge N inputs):
    every row is prefixed with its source's position in ``sources``
    before piping, i.e. the script sees ``tag <sep> col1 <sep> ...``
    lines. Tagging is one ``lit(i)`` column per source + unionByName —
    zero extra shuffles; the union preserves per-source partitioning."""
    tagged = [
        _to_lines(src, sep).select(
            F.concat_ws(sep, F.lit(str(i)), F.col("line")).alias("line")
        )
        for i, src in enumerate(sources)
    ]
    merged = tagged[0]
    for t in tagged[1:]:
        merged = merged.unionByName(t)
    spark = merged.sparkSession
    lines = merged.rdd.map(lambda r: r.line)
    piped = lines.pipe(cmd, env=env or {}, checkCode=check_code)
    out = piped.map(lambda ln: _parse_kv(ln, sep, num_key_fields))
    return spark.createDataFrame(out, schema=f"{key_name} string, {value_name} string")


def _run_units(
    argv: list[str],
    units: list[list[str]],
    env: dict[str, str] | None,
    max_skip_units: int,
) -> tuple[list[str], list[str]]:
    """Run ``argv`` once over the concatenated lines of ``units``; on a
    non-zero exit, bisect the unit list and recurse, until a failing
    range is no longer than ``max_skip_units`` units — that range is
    skipped (returned as raw lines), everything else is re-run and its
    output kept. The reference's skip-mode narrowing loop
    (``Task.java`` SkipRangeIterator + TaskTracker-reported ranges),
    collapsed into in-task bisection: same contract — a deterministic
    per-record crash costs at most ``max_skip_units`` units of
    surrounding data; everything outside the narrowed range is
    reprocessed and survives. Assumes the script is deterministic and
    carries no cross-unit state (the reference assumes exactly this
    when it replays a task from a skip range)."""
    flat = [ln for unit in units for ln in unit]
    proc = subprocess.run(
        argv,
        input="\n".join(flat) + ("\n" if flat else ""),
        capture_output=True,
        text=True,
        env=env,
    )
    if proc.returncode == 0:
        # Strip ONLY the single trailing newline — a script that emits
        # blank lines keeps them, matching pipe()/rdd.pipe semantics on
        # clean input (round-6 review: filtering every '' silently
        # dropped legitimate blank output lines).
        out = proc.stdout.split("\n")
        if out and out[-1] == "":
            out.pop()
        return out, []
    if len(units) <= max_skip_units:
        return [], flat
    mid = len(units) // 2
    out_lo, skip_lo = _run_units(argv, units[:mid], env, max_skip_units)
    out_hi, skip_hi = _run_units(argv, units[mid:], env, max_skip_units)
    return out_lo + out_hi, skip_lo + skip_hi


def pipe_skip_bad(
    df: DataFrame,
    cmd: str,
    sep: str = "\t",
    num_key_fields: int = 1,
    env: dict[str, str] | None = None,
    max_skip_records: int = 1,
    chunk_size: int = 4096,
    group_key_cols: list[str] | None = None,
    key_name: str = "key",
    value_name: str = "value",
) -> tuple[DataFrame, DataFrame]:
    """Script pipe with the reference's skip-bad-records mode
    (``X/mapred/org/apache/hadoop/mapred/SkipBadRecords.java:29-50`` —
    a task that crashes deterministically on certain records narrows
    the failing range across attempts and skips it, losing at most
    ``max.skip.records`` records around each bad one instead of the
    whole task's data; skipped records land in ``mapred.skip.out.dir``).

    Spark-first shape: ``mapPartitions`` feeds the script in
    ``chunk_size``-line subprocess invocations (memory stays bounded by
    the chunk, not the partition); a non-zero exit triggers in-task
    bisection (`_run_units`) instead of the reference's cross-attempt
    TaskTracker protocol — O(bad · log chunk) subprocess forks, no task
    re-launch needed, because the fork boundary lets us replay any
    sub-range cheaply. Returns ``(output, skipped)``: ``output`` is the
    usual (key, value) parse of surviving stdout; ``skipped`` is one
    ``line`` column of the raw input lines inside narrowed bad ranges —
    the ``skip.out.dir`` analog, as a DataFrame the caller can count
    (the reference's SkippingTaskCounters) or sink anywhere.

    ``group_key_cols`` switches the skip unit from single records to
    whole key-groups (``REDUCER_MAX_SKIP_GROUPS`` semantics): rows are
    repartitioned + sorted on those columns as in `pipe_grouped`, chunk
    boundaries never split a group, and ``max_skip_records`` counts
    groups. A streaming reducer keeps per-key state, so record-level
    bisection inside a group would be unsound — group replay is exactly
    why the reference skips reduce GROUPS, not records.

    Both returned DataFrames read one persisted pass (the subprocess
    runs once per chunk, not once per consumer). Cache lifetime:
    :func:`~..plans.cache.cache_scope`."""
    if max_skip_records < 1:
        raise ValueError(f"max_skip_records must be >= 1, got {max_skip_records}")
    argv = shlex.split(cmd)
    source = df
    n_grp = 0
    if group_key_cols:
        n_grp = len(group_key_cols)
        source = df.select(
            *group_key_cols, *[c for c in df.columns if c not in group_key_cols]
        )
        source = source.repartition(*group_key_cols).sortWithinPartitions(
            *group_key_cols
        )
    lines = _to_lines(source, sep).rdd.map(lambda r: r.line)
    cap, skip_cap = chunk_size, max_skip_records

    def run_partition(it: Iterator[str]) -> Iterator[tuple[str, str | None, str | None]]:
        # rdd.pipe MERGES the caller's env into the subprocess
        # environment; subprocess.run(env=...) REPLACES it (losing
        # PATH). Merge HERE, executor-side, so each worker merges into
        # its OWN environment — on a real cluster the driver's
        # PATH/JAVA_HOME snapshot is the wrong one (round-6 review; the
        # closure ships only the caller's overrides).
        env_ = {**os.environ, **env} if env else None

        def flush(units: list[list[str]]):
            out, skipped = _run_units(argv, units, env_, skip_cap)
            for ln in out:
                k, v = _parse_kv(ln, sep, num_key_fields)
                yield ("o", k, v)
            for ln in skipped:
                yield ("s", ln, None)

        units: list[list[str]] = []
        n_lines = 0
        cur_key: str | None = None
        for line in it:
            if n_grp:
                grp = sep.join(line.split(sep)[:n_grp])
                if grp != cur_key or not units:
                    # Group boundary: chunk may flush here, never inside.
                    if n_lines >= cap:
                        yield from flush(units)
                        units, n_lines = [], 0
                    units.append([])
                    cur_key = grp
                units[-1].append(line)
            else:
                units.append([line])
            n_lines += 1
            if not n_grp and n_lines >= cap:
                yield from flush(units)
                units, n_lines = [], 0
        if units:
            yield from flush(units)

    spark = df.sparkSession
    tagged = persisted(
        spark.createDataFrame(
            lines.mapPartitions(run_partition),
            schema="kind string, k string, v string",
        )
    )
    out_df = (
        tagged.filter(F.col("kind") == "o")
        .select(F.col("k").alias(key_name), F.col("v").alias(value_name))
    )
    skipped_df = tagged.filter(F.col("kind") == "s").select(F.col("k").alias("line"))
    return out_df, skipped_df


def chain(df: DataFrame, *stages: Callable[[DataFrame], DataFrame]) -> DataFrame:
    """ChainMapper: a pipeline of row-level transforms fused into one
    task with no intermediate materialization. Each stage is df→df;
    adjacent narrow stages collapse into a single codegen'd projection."""
    for stage in stages:
        df = stage(df)
    return df
