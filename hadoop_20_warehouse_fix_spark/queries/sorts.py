"""Sort / top-k / secondary-sort queries (SURVEY.md §2.5, §2.6).

Ordering is turned into checkable data (a rank column) — the
SortValidator idea (``SortValidator.java:93-97``: prove output order by
content, not by trusting the writer)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_20_warehouse_fix_spark.catalog import load_table
from hadoop_20_warehouse_fix_spark.operators.keyspec import keyspec_columns
from hadoop_20_warehouse_fix_spark.operators.sort import (
    grouped_ordered_list,
    top_k,
    top_k_per_group,
    with_global_rank,
)
from hadoop_20_warehouse_fix_spark.queries import query


@query(
    "sort_total_order",
    headline=True,
    oracle="""
    SELECT l_orderkey, l_linenumber, l_shipdate,
           CAST(row_number() OVER (ORDER BY l_shipdate, l_orderkey, l_linenumber) AS BIGINT) AS rank
    FROM lineitem
    """,
)
def sort_total_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total-order sort (``M/lib/TotalOrderPartitioner.java:41`` +
    InputSampler): globally ordered output, proven by materialized rank.

    Scale note: Spark's orderBy range-partitions on sampled split points
    (no single reducer). The rank comes from with_global_rank, which
    picks its form from the row count — single window below the
    measured 2.4M-row crossover (cheap at test scale), per-partition
    offsets above it (scale-safe at 100 TB); identical output, asserted
    in tests (round-5 brief #1)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_shipdate")
    return with_global_rank(li, ["l_shipdate", "l_orderkey", "l_linenumber"], "rank").select(
        "l_orderkey", "l_linenumber", "l_shipdate", F.col("rank").cast("long").alias("rank")
    )


@query(
    "sort_keyfield_spec",
    oracle="""
    WITH lines AS (
      SELECT concat_ws(CHR(9), n_name, CAST(n_nationkey AS VARCHAR), CAST(n_regionkey AS VARCHAR)) AS line
      FROM nation
    )
    SELECT line,
           CAST(row_number() OVER (
             ORDER BY CAST(string_split(line, CHR(9))[3] AS DOUBLE) DESC,
                      string_split(line, CHR(9))[1]
           ) AS BIGINT) AS rank
    FROM lines
    """,
)
def sort_keyfield_spec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unix-sort ``-k`` keyspec over delimited lines —
    KeyFieldBasedComparator (``M/lib/KeyFieldBasedComparator.java:46``).
    Spec ``-k3,3nr -k1,1``: field 3 numeric descending, then field 1
    ascending. The spec compiles to Column expressions (JVM-side); the
    same keys drive the range partitioner, reproducing
    KeyFieldBasedPartitioner."""
    nat = load_table(spark, sf_dir, "nation").select(
        F.concat_ws(
            "\t", F.col("n_name"), F.col("n_nationkey").cast("string"), F.col("n_regionkey").cast("string")
        ).alias("line")
    )
    cols = keyspec_columns("line", "-k3,3nr -k1,1", "\t")
    return with_global_rank(nat, cols, "rank").select("line", F.col("rank").cast("long").alias("rank"))


@query(
    "sort_top_k",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
)
def sort_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k — the reference's sort-by-count + single-reducer idiom
    (``E/Grep.java:61-80``). Spark compiles orderBy+limit to
    TakeOrderedAndProject: per-partition k-heaps, merge of heads; shuffle
    is k×partitions rows, scale-free where the reference bottlenecked on
    one reducer."""
    return top_k(
        load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice"),
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        25,
    )


@query(
    "sort_top_k_per_group",
    oracle="""
    SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_orderpriority
                                     ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def sort_top_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group — secondary-sort capability (partition by k1,
    order by k2: ``E/SecondarySort.java:51``) with a rank cutoff. Window
    row_number shuffles each group to one task; at 100 TB skewed groups
    are pre-pruned with a per-partition heap (AQE skew split handles the
    rest)."""
    return top_k_per_group(
        load_table(spark, sf_dir, "orders").select("o_orderpriority", "o_orderkey", "o_totalprice"),
        ["o_orderpriority"],
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        3,
    ).select("o_orderpriority", "o_orderkey", "o_totalprice", F.col("rn").cast("int").alias("rn"))


@query(
    "sort_secondary_grouped",
    oracle="""
    SELECT l_orderkey, list(l_partkey ORDER BY l_linenumber, l_partkey) AS parts_in_line_order
    FROM lineitem
    GROUP BY l_orderkey
    """,
)
def sort_secondary_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Secondary sort as grouped ordered lists — the reference's ordered
    values iterator (``M/ReduceTask.java:226``; FIXTURES F5: per
    l_orderkey, l_linenumber order). collect_list + sort_array is
    JVM-side; group size here is bounded (≤7 lines/order), the safe case
    for collected arrays at any scale."""
    return grouped_ordered_list(
        load_table(spark, sf_dir, "lineitem"),
        ["l_orderkey"],
        order_col="l_linenumber",
        value_col="l_partkey",
        out_name="parts_in_line_order",
    )


@query(
    "terasort_selfcheck",
    oracle="""
    SELECT 'checksum_match' AS check, true AS ok
    UNION ALL SELECT 'counts_match', true
    UNION ALL SELECT 'globally_sorted', true
    """,
)
def terasort_selfcheck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TeraGen → total-order sort → TeraValidate, end to end
    (``E/terasort/TeraSort.java:50`` + ``TeraValidate.java:52`` +
    ``SortValidator.java:93-97``): generate deterministic 100-byte-ish
    records, range-partition + sort, then prove count/checksum/order
    preservation WITHOUT re-sorting. Returns one row per passing check;
    the oracle pins all three checks true, so any validation failure
    hash-mismatches the gate.

    100 TB: generation is embarrassingly parallel; the sort is Spark's
    sampled range partition (the TotalOrderPartitioner, SURVEY §2.6);
    validation is two aggregate passes + a per-partition lag."""
    from hadoop_20_warehouse_fix_spark.operators.sort import total_order_sort
    from hadoop_20_warehouse_fix_spark.sources.generators import sort_validate, teragen

    data = teragen(spark, 50_000, seed=42)
    sorted_out = total_order_sort(data, ["key"], num_partitions=8)
    checks = sort_validate(data, sorted_out, "key")
    rows = [(k, bool(v)) for k, v in sorted(checks.items())]
    out = spark.createDataFrame(rows, "check string, ok boolean")
    return out.filter(F.col("ok"))  # drops rows on failure → driver sees <3 rows


@query(
    "sort_zorder_values",
    oracle="""
    SELECT l_orderkey, l_partkey,
           CAST(sum(
             ((l_orderkey >> b) & 1) * power(2, 2 * b)
             + ((l_partkey >> b) & 1) * power(2, 2 * b + 1)
           ) AS BIGINT) AS zvalue
    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         generate_series(0, 15) t(b)
    GROUP BY l_orderkey, l_partkey
    """,
)
def sort_zorder_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) keys for the (orderkey, partkey) plane — the
    multi-dimensional clustering layout (operators.sort.zorder_value /
    write_zordered): files sorted by z cover compact boxes in BOTH
    dimensions, so parquet min/max stats prune 2-d box predicates that
    a 1-d sort cannot. Bit interleaving replayed exactly by the oracle.

    NOTE: lineitem has duplicate (orderkey, partkey) keys; output is
    per distinct pair (the layout key space), keeping the driver's
    row-sort canonical."""
    from hadoop_20_warehouse_fix_spark.operators.sort import zorder_value

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    return li.select(
        "l_orderkey",
        "l_partkey",
        zorder_value(["l_orderkey", "l_partkey"], bits=16).alias("zvalue"),
    )
