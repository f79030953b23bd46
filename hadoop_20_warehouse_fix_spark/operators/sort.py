"""Sort / limit / top-k / secondary-sort operators (SURVEY.md §2.5, §2.6).

Reference mechanisms and their Spark physics:
- Total-order sort (``M/lib/TotalOrderPartitioner.java:41`` + InputSampler
  ``:314``): sample keys → range-partition → per-partition sort. Spark's
  ``orderBy`` does exactly this internally (RangePartitioner reservoir
  sampling), so ``total_order_sort`` is declarative.
- Secondary sort (``E/SecondarySort.java:51``: FirstPartitioner +
  grouping comparator): partition by k1, stream values ordered by k2.
  Spark analogs: window functions, or per-group sorted arrays.
- Top-k (``E/Grep.java:61-80`` sort-by-count-desc + single reducer):
  ``orderBy().limit(k)`` compiles to TakeOrderedAndProject — per-partition
  heaps, no global sort materialization. The reference needed a
  1-reducer job for this; Spark's version is scale-free.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hadoop_20_warehouse_fix_spark.plans.cache import persisted


def total_order_sort(df: DataFrame, cols: Sequence[Column | str], num_partitions: int | None = None) -> DataFrame:
    """Globally ordered output across partitions. ``orderBy`` range
    partitions on sampled split points — the TotalOrderPartitioner +
    InputSampler pipeline as one declarative op."""
    if num_partitions is not None:
        return df.repartitionByRange(num_partitions, *cols).sortWithinPartitions(*cols)
    return df.orderBy(*cols)


# Measured single-window vs distributed-offset crossover (SCALING.md
# round 4): the single global window is ~1.4x faster at 600k rows (the
# distributed form pays persist + a P-row collect + a broadcast join),
# the distributed form is 1.6x ahead at 2.4M and 1.9x at 6M — and the
# single task's serial O(n log n) keeps growing while the distributed
# critical path is one partition. The sampler-picks-the-partitioner
# idea is the reference's InputSampler (``M/lib/InputSampler.java:101``:
# probe the data, then choose the partitioning).
GLOBAL_RANK_CROSSOVER_ROWS = 2_400_000


def _plan_row_count(df: DataFrame) -> int | None:
    """Row count from the optimized plan's statistics, when Catalyst
    already knows one (CBO/ANALYZE stats, LocalRelation, a cached
    relation) — a FREE probe: no job runs. Plain file scans usually
    carry only sizeInBytes, in which case this returns None and the
    caller falls back to counting."""
    try:
        rc = df._jdf.queryExecution().optimizedPlan().stats().rowCount()
        return int(str(rc.get())) if rc.isDefined() else None
    except Exception:  # noqa: BLE001 — stats probe is best-effort by contract
        return None


# Optimized-plan NODE NAMES whose presence means re-evaluating the plan
# is real work (shuffle / blow-up / per-group state) — counting such a
# plan twice is the round-5 double-scan bug, so auto persists first.
# Their absence means the plan is scan+project+filter, where count()
# prunes everything (often to a Parquet metadata row-count) and a
# persist would FORCE materializing columns the probe never needed —
# measured round 6: persist+count on sort_total_order's bare 3-column
# scan cost more than the pruned count it replaced. Matched EXACTLY
# against each tree node's ``nodeName`` (round-6 review: the earlier
# substring match over ``toString()`` let a column alias containing
# "Sort" force a needless persist, and would drift as Spark renames
# operators).
_EXPENSIVE_NODE_NAMES = frozenset(
    {
        "Join",
        "Aggregate",
        "Window",
        "WindowGroupLimit",
        "Generate",
        "Sort",
        "GlobalLimit",
        "LocalLimit",
        "Limit",
        "Offset",
        "Tail",
        "Deduplicate",
        "DeduplicateWithinWatermark",
        "Union",
        "Intersect",
        "Except",
        "Distinct",
        "Sample",
        "CoGroup",
        "MapGroups",
        "FlatMapGroupsInPandas",
        "FlatMapCoGroupsInPandas",
        "FlatMapGroupsWithState",
        "FlatMapGroupsInPandasWithState",
        "MapInPandas",
        "PythonMapInArrow",
        "MapPartitions",
        "MapElements",
        "Repartition",
        "RepartitionByExpression",
        "RebalancePartitions",
        "ScriptTransformation",
    }
)


def _count_reruns_real_work(df: DataFrame) -> bool:
    """True when the optimized plan contains a node that makes
    re-evaluation expensive (so the probe count should persist first);
    False for scan+project+filter plans where count() is ~free.
    Walks the logical plan tree (including expression subqueries) and
    compares each node's ``nodeName`` exactly — immune to column
    aliases that merely CONTAIN an operator name. On any introspection
    failure, assume expensive — persist+count is always correct, just
    not always cheapest."""
    try:
        stack = [df._jdf.queryExecution().optimizedPlan()]
        while stack:
            node = stack.pop()
            if node.nodeName() in _EXPENSIVE_NODE_NAMES:
                return True
            children = node.children()
            for i in range(children.length()):
                stack.append(children.apply(i))
            try:  # scalar/IN subqueries hide whole plans inside expressions
                subs = node.subqueries()
                for i in range(subs.length()):
                    stack.append(subs.apply(i))
            except Exception:  # noqa: BLE001 — subquery probe is best-effort
                return True
    except Exception:  # noqa: BLE001 — introspection is best-effort
        return True
    return False


def with_global_rank(
    df: DataFrame,
    cols: Sequence[Column | str],
    rank_name: str = "rank",
    form: str = "auto",
    crossover_rows: int = GLOBAL_RANK_CROSSOVER_ROWS,
    known_count: int | None = None,
) -> DataFrame:
    """Attach a 1-based global rank in sort order — turns ordering into
    checkable data (the SortValidator idea: prove global order by
    content, ``SortValidator.java:93-97``).

    ``form``:
    - ``"single"`` — one ``row_number().over(orderBy)`` window. Every
      row flows through ONE task (Spark warns); cheapest below the
      measured crossover, the job-killer above it.
    - ``"distributed"`` — the TotalOrderPartitioner +
      per-partition-offset shape: range-partition on the sort key,
      row_number WITHIN each partition in parallel, collect one row
      count per partition (P rows — bounded by cluster size, not data
      size), prefix-scan driver-side, broadcast the offsets back.
      Scale-safe; pays a persist + P-row collect + broadcast join.
    - ``"auto"`` (default) — pick by ``crossover_rows`` using the
      cheapest row-count available, in order: a caller-supplied
      ``known_count`` (free), the optimized plan's statistics row count
      (free — no job), else ``df.count()`` over a PERSISTED ``df`` so
      the probe's scan is the same materialization the ranking then
      reads (round-5 review: the unpersisted form scanned the upstream
      plan twice — once to choose the physical form, once to rank — at
      exactly the scales where the choice matters). The InputSampler
      move (``M/lib/InputSampler.java:101``): sample cheaply, then
      partition.

    Cache lifetime of the persisted input and of the distributed form's
    range-partitioned frame: :func:`~..plans.cache.cache_scope`.

    Output is IDENTICAL across forms (asserted in tests): ``cols`` must
    order rows uniquely for a deterministic rank (true for every
    caller; ties would make the rank partitioning-dependent, as any
    global row_number's tie order is)."""
    if form not in ("auto", "single", "distributed"):
        raise ValueError(f"form must be 'auto', 'single', or 'distributed', got {form!r}")
    if form == "auto":
        n = known_count if known_count is not None else _plan_row_count(df)
        if n is None:
            if _count_reruns_real_work(df):
                df = persisted(df)
            n = df.count()
        form = "single" if n < crossover_rows else "distributed"
    if form == "single":
        w = Window.orderBy(*cols)
        return df.withColumn(rank_name, F.row_number().over(w))
    part = persisted(df.repartitionByRange(*cols).withColumn("_pid", F.spark_partition_id()))
    w = Window.partitionBy("_pid").orderBy(*cols)
    local = part.withColumn("_rn", F.row_number().over(w))
    counts = part.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n")).orderBy("_pid").collect()
    offsets, acc = [], 0
    for r in counts:
        offsets.append((r._pid, acc))
        acc += r._n
    off = df.sparkSession.createDataFrame(offsets or [(0, 0)], "_pid int, _offset long")
    return (
        local.join(F.broadcast(off), "_pid")
        .withColumn(rank_name, (F.col("_rn") + F.col("_offset")).cast("int"))
        .drop("_pid", "_rn", "_offset")
    )


def top_k(df: DataFrame, order_cols: Sequence[Column], k: int) -> DataFrame:
    """Global top-k: TakeOrderedAndProject (per-partition heap + merge of
    k-row heads — shuffle volume k×partitions, not the full data)."""
    return df.orderBy(*order_cols).limit(k)


def top_k_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[Column],
    k: int,
    rank_name: str = "rn",
) -> DataFrame:
    """Top-k within each group via ranked window — the secondary-sort
    idiom (partition by k1, order by k2) with a rank cutoff."""
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return df.withColumn(rank_name, F.row_number().over(w)).filter(F.col(rank_name) <= k)


def grouped_ordered_list(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    value_col: str,
    out_name: str = "values",
) -> DataFrame:
    """Secondary sort as data: per group, the list of values in
    ``order_col`` order — what the reference's reducer saw as its ordered
    values iterator (``M/ReduceTask.java:226``).

    Implementation: collect (order, value) structs, ``sort_array`` (struct
    ordering is field-order lexicographic), project the value — all
    JVM-side; no Python, no per-group shuffle beyond the groupBy."""
    pair = F.struct(F.col(order_col).alias("_o"), F.col(value_col).alias("_v"))
    return df.groupBy(*group_cols).agg(
        F.transform(F.sort_array(F.collect_list(pair)), lambda s: s["_v"]).alias(out_name)
    )


def prefix_sum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_name: str = "cumsum",
    num_partitions: int | None = None,
) -> DataFrame:
    """SCALABLE global running sum in ``order_col`` order — the
    distributed prefix-sum. A bare ``sum().over(Window.orderBy(...))``
    moves EVERY row to one partition (Spark warns and single-threads);
    this is the two-pass form that doesn't:

    1. range-partition by ``order_col`` (sampled split points — the
       TotalOrderPartitioner physics), cumsum WITHIN each partition
       (window partitioned by partition id — parallel);
    2. collect one total per partition (P rows — bounded), prefix-scan
       them driver-side, broadcast-join the per-partition offset back.

    Shuffle volume: the range partition of the data + P rows. The same
    shape computes global row_number / rank at 100 TB (the
    with_global_rank docstring's 'partition-level offsets' made real).

    ``order_col`` must be globally unique for a deterministic result
    (true for the id columns this engine orders by); ``value_col`` must
    be integral — the running sum and offsets ride as bigint."""
    spark = df.sparkSession
    part = (
        df.repartitionByRange(num_partitions, order_col)
        if num_partitions is not None
        else df.repartitionByRange(order_col)
    )
    part = part.withColumn("_pid", F.spark_partition_id())
    w = Window.partitionBy("_pid").orderBy(order_col)
    # Persist BEFORE the totals collect: the offsets job and the
    # returned plan's own action would otherwise re-execute
    # repartitionByRange, whose sampled split points are not guaranteed
    # identical across executions — a row landing in a different _pid
    # the second time would get the wrong offset. The persist pins one
    # partitioning for both consumers (and halves the work), so it must
    # outlive the caller's action: the caller's cache_scope releases it.
    local = persisted(part.withColumn("_local_sum", F.sum(value_col).over(w)))
    # Partition total = sum of values, NOT max of the running sum: with
    # negative values the running sum peaks mid-partition and max()
    # would inflate every later partition's offset.
    totals = (
        local.groupBy("_pid").agg(F.sum(value_col).alias("_ptotal")).orderBy("_pid").collect()
    )
    offsets, acc = [], 0
    for r in totals:
        offsets.append((r._pid, acc))
        acc += r._ptotal or 0
    off_df = spark.createDataFrame(offsets, "_pid int, _offset bigint")
    return (
        local.join(F.broadcast(off_df), "_pid")
        .withColumn(out_name, (F.col("_local_sum") + F.col("_offset")).cast("long"))
        .drop("_pid", "_local_sum", "_offset")
    )


def pack_by_budget(
    df: DataFrame,
    order_col: str,
    weight_col: str,
    budget: int,
    out_name: str = "shard_id",
) -> DataFrame:
    """Sequential greedy packing in ``order_col`` order: shard id =
    exclusive prefix weight / ``budget`` — the deterministic
    streaming-packing rule for fixed-token-budget training shards,
    built on the distributed :func:`prefix_sum` (never a
    single-partition global window). ONE shared implementation so the
    registered query (corpus_pack_shards) and the capstone pipeline
    (corpus_prepare_training_set) cannot silently diverge on boundary
    semantics: a doc whose weight straddles a boundary belongs to the
    shard its PREFIX started in (shards may exceed budget by less than
    one doc, never undershoot-split a doc)."""
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    cum = prefix_sum(df, order_col, weight_col, out_name="_cum")
    # Integer `div`, not float division: floor(x / float(budget)) is
    # exact only while the cumulative weight stays below 2^53 — beyond
    # that, double rounding silently drifts shard boundaries on extreme
    # corpora even though both operands are integral. Both operands are
    # non-negative longs, so `div` (truncate toward zero) == floor,
    # preserving the prefix-start boundary semantics exactly.
    return (
        cum.withColumn("_excl", (F.col("_cum") - F.col(weight_col)).cast("long"))
        .withColumn(out_name, F.expr(f"_excl div CAST({int(budget)} AS BIGINT)"))
        .drop("_cum", "_excl")
    )


def zorder_value(cols: Sequence[Column | str], bits: int = 16) -> Column:
    """Z-order (Morton) key: interleave the low ``bits`` bits of each
    integer column — points close in ALL dimensions get close z-values,
    so range-partitioning + sorting by z clusters multi-dimensional
    locality into the same files/row-groups. THE layout trick for
    min/max pruning on two+ filter columns at once (a 1-d sort prunes
    only its leading column).

    Pure bit arithmetic (codegen'd, row-local, engine-agnostic — the
    oracle replays it); inputs must be non-negative integers (rank- or
    bucket-normalize first otherwise). bits*len(cols) must fit 63."""
    ncols = [F.col(c) if isinstance(c, str) else c for c in cols]
    if bits * len(ncols) > 63:
        raise ValueError("interleaved width exceeds signed-64")
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(ncols):
            bit = F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, b * len(ncols) + i)
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    bits: int = 16,
    num_files: int | None = None,
) -> None:
    """Z-order-clustered Parquet layout: compute the Morton key, range
    partition + sort by it, drop it, write. Parquet min/max stats on the
    ORIGINAL columns then prune multi-dimensional box queries — each
    file covers a compact z-range, hence a compact box in every
    dimension."""
    z = zorder_value(list(cols), bits).alias("_z")
    out = df.withColumn("_z", z)
    out = (
        out.repartitionByRange(num_files, "_z")
        if num_files is not None
        else out.repartitionByRange("_z")
    )
    out.sortWithinPartitions("_z").drop("_z").write.mode("overwrite").parquet(path)
