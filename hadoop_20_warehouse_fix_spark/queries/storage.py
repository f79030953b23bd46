"""Driver-gated storage-layer queries (round 12): the keyed-table
append/compact lifecycle and manifest file-pruning under the DuckDB
oracle.

Round 11 built the mutable-table storage layer (``sources/keyed.py``,
``sources/manifest.py``) with pytest-only evidence; these queries make
it driver-visible (VERDICT r11 "Next round" #1). Each query constructs
its table in scratch space DETERMINISTICALLY from the shared testdata
views, so the oracle can recompute the expected end state in plain SQL
— stronger than comparing against the table's own files, because a bug
anywhere in the write/delta/compact/read cycle shows up as a value
mismatch, not just a self-consistent wrong answer.

Reference parity: the MapFile get/merge semantics (``C/io/MapFile.java:49``
get at :426, exercised by ``src/test/org/apache/hadoop/io/TestMapFile``
round-trips) — rewritten keys fold over the sorted base, reads see the
merged view, point gets seek only the index's bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_20_warehouse_fix_spark.catalog import load_table
from hadoop_20_warehouse_fix_spark.queries import query
from hadoop_20_warehouse_fix_spark.scratch import scratch_dir


@query(
    "keyed_upsert_mor_read",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderkey % 20 = 3 THEN o_totalprice + 2
                WHEN o_orderkey % 10 = 3 THEN o_totalprice + 1
                ELSE o_totalprice END AS o_totalprice,
           CASE WHEN o_orderkey % 20 = 3 THEN 'u3'
                WHEN o_orderkey % 10 = 3 THEN 'u1'
                ELSE o_orderpriority END AS o_orderpriority
    FROM orders WHERE o_orderkey % 10 <> 7
    UNION ALL
    SELECT -o_orderkey - 1, o_custkey, o_totalprice, 'ins'
    FROM orders WHERE o_orderkey % 1000 = 1
    """,
)
def keyed_upsert_mor_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed-table MOR lifecycle end-to-end under the oracle gate:
    initial bucketed load of ``orders``, three O(batch) delta appends
    (update, tombstone, update-override + insert), then the resolved
    read — latest-seq-wins per key, tombstones filtered, no base
    shuffle (the broadcast-anti resolution, plan-pinned in
    tests/test_keyed.py). The oracle recomputes the identical end state
    from the source view in plain SQL, so every stage of the
    write/delta/read cycle is value-checked.

    Batch 3 deliberately overrides half of batch 1's keys (%20==3 is a
    subset of %10==3) — the seq ordering, not the union order, must
    decide the winner.

    100 TB: each append costs O(batch) regardless of key spread; the
    read tax is a broadcast anti-join of delta keys against the base
    (SCALING.md r11: 0.35 s appends vs 13.6 s scattered COW at 20M
    rows). Reference analog: MapFile merge (``C/io/MapFile.java:49``).
    """
    from hadoop_20_warehouse_fix_spark.sources.keyed import (
        delete_from_keyed_table,
        read_keyed_table,
        upsert_keyed_table,
        write_keyed_table,
    )

    orders = load_table(spark, sf_dir, "orders")
    path = scratch_dir(prefix="keyed_mor_q_") + "/tab"
    write_keyed_table(orders, path, ["o_orderkey"], num_buckets=16, assume_unique=True)
    k = F.col("o_orderkey")
    upd1 = (
        orders.filter(k % 10 == 3)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1)
        .withColumn("o_orderpriority", F.lit("u1"))
    )
    upsert_keyed_table(spark, path, upd1, assume_unique=True)
    dels = orders.filter(k % 10 == 7).select("o_orderkey")
    delete_from_keyed_table(spark, path, dels)
    upd3 = (
        orders.filter(k % 20 == 3)
        .withColumn("o_totalprice", F.col("o_totalprice") + 2)
        .withColumn("o_orderpriority", F.lit("u3"))
        .unionByName(
            orders.filter(k % 1000 == 1)
            # negative insert keys: disjoint from ANY non-negative key
            # space, so the insert stays an insert at every scale (the
            # 10x key-shifted sweep caught +1e8 colliding with the
            # shifted replicas -- the MOR override semantics silently
            # absorbed them while the oracle double-counted)
            .withColumn("o_orderkey", -k - 1)
            .withColumn("o_orderpriority", F.lit("ins"))
        )
    )
    upsert_keyed_table(spark, path, upd3, assume_unique=True)
    return read_keyed_table(spark, path).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )


@query(
    "keyed_compact_point_lookup",
    oracle="""
    SELECT c_custkey, c_name,
           CASE WHEN c_custkey IN (2, 4) THEN c_acctbal + 100
                WHEN c_custkey = 6 THEN c_acctbal + 7
                ELSE c_acctbal END AS c_acctbal,
           CASE WHEN c_custkey IN (2, 4) THEN 'upd'
                WHEN c_custkey = 6 THEN 'upd2'
                ELSE c_mktsegment END AS c_mktsegment
    FROM customer WHERE c_custkey IN (0, 1, 2, 4, 6, 7, 8)
    """,
)
def keyed_compact_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rest of the keyed lifecycle: MOR deltas folded into the base
    by compaction, a FRESH delta layered on top, then a literal-key
    point lookup (``MapFile.get()`` analog, ``C/io/MapFile.java:426``)
    that must resolve base + pending delta while scanning only the
    bucket directories the keys hash to (directory pruning pinned in
    tests/test_keyed.py). Deleted keys return nothing, absent keys
    return nothing, updated keys return the latest value whether the
    update was compacted (2, 4) or still pending (6).

    Keyed tables commit through versioned bucket dirs behind
    ``_commits/commit-N.json`` manifests and ``_COMMITTED`` delta
    markers, with no rename on any committed path — so the whole
    commit lifecycle is driver-visible, not pytest-only.

    100 TB: the lookup's plan touches O(distinct key buckets)
    directories, never the table; compaction cost tracks the touched
    buckets (SCALING.md r11: 65x cheaper than per-batch COW)."""
    from hadoop_20_warehouse_fix_spark.sources.keyed import (
        compact_keyed_table,
        delete_from_keyed_table,
        lookup_keys,
        upsert_keyed_table,
        write_keyed_table,
    )

    cust = load_table(spark, sf_dir, "customer")
    path = scratch_dir(prefix="keyed_pl_q_") + "/tab"
    write_keyed_table(
        cust, path, ["c_custkey"], num_buckets=8, assume_unique=True
    )
    k = F.col("c_custkey")
    upd = (
        cust.filter(k.isin(2, 4))
        .withColumn("c_acctbal", F.col("c_acctbal") + 100)
        .withColumn("c_mktsegment", F.lit("upd"))
    )
    upsert_keyed_table(spark, path, upd, assume_unique=True)
    delete_from_keyed_table(
        spark, path, cust.filter(k.isin(3, 5)).select("c_custkey")
    )
    compact_keyed_table(spark, path)
    upd2 = (
        cust.filter(k == 6)
        .withColumn("c_acctbal", F.col("c_acctbal") + 7)
        .withColumn("c_mktsegment", F.lit("upd2"))
    )
    upsert_keyed_table(spark, path, upd2, assume_unique=True)
    found = lookup_keys(spark, path, [0, 1, 2, 3, 4, 5, 6, 7, 8, 999_999])
    return found.select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")


@query(
    "keyed_cdc_apply",
    headline=True,  # round-14 brief #8: the storage hot path in BENCH_r*.json
    oracle="""
    SELECT s_suppkey, s_name,
           CASE WHEN s_suppkey % 7 = 2 THEN s_acctbal + 50 ELSE s_acctbal END AS s_acctbal
    FROM supplier WHERE s_suppkey % 7 <> 5
    UNION ALL
    SELECT -s_suppkey - 1, s_name, s_acctbal
    FROM supplier WHERE s_suppkey % 100 = 9
    """,
)
def keyed_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-12 CDC fast path under the oracle gate: ONE mixed
    change batch (updates + tombstones + inserts in the same frame,
    distinguished by an op column) applied via
    :func:`~..sources.keyed.apply_changes_keyed_table` — single
    validation aggregation, single delta append — then the resolved
    read. The oracle recomputes the end state from the source view.

    100 TB: this is the shape an always-on CDC ingest commits per
    micro-batch; SCALING.md r12 measures it at 0.76 s/batch steady
    state over 200 batches (1.41 s with the two-append + probe form
    it replaces)."""
    from hadoop_20_warehouse_fix_spark.sources.keyed import (
        apply_changes_keyed_table,
        read_keyed_table,
        write_keyed_table,
    )

    supp = load_table(spark, sf_dir, "supplier")
    path = scratch_dir(prefix="keyed_cdc_q_") + "/tab"
    write_keyed_table(supp, path, ["s_suppkey"], num_buckets=8, assume_unique=True)
    k = F.col("s_suppkey")
    changes = (
        supp.filter(k % 7 == 2)
        .withColumn("s_acctbal", F.col("s_acctbal") + 50)
        .withColumn("op", F.lit("upsert"))
        .unionByName(supp.filter(k % 7 == 5).withColumn("op", F.lit("delete")))
        .unionByName(
            supp.filter(k % 100 == 9)
            .withColumn("s_suppkey", -k - 1)  # disjoint at every scale
            .withColumn("op", F.lit(None).cast("string"))
        )
    )
    out = apply_changes_keyed_table(spark, path, changes, op_col="op")
    assert out["deletes"] > 0 and out["upserts"] > 0
    return read_keyed_table(spark, path).select("s_suppkey", "s_name", "s_acctbal")


@query(
    "manifest_pruned_read",
    oracle="""
    SELECT l_orderkey, l_partkey, l_suppkey, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_orderkey BETWEEN 2000 AND 4000
      AND l_partkey BETWEEN 100 AND 600
    """,
)
def manifest_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stats-manifest data skipping under the oracle gate: write a
    z-ordered copy of lineitem, build the per-file min/max manifest
    (distributed footer pass), then answer a 2-D box query through
    :func:`~..sources.manifest.read_pruned` — the manifest prunes to
    the files whose stats can match, the scan re-applies the exact
    predicate. The oracle is the PLAIN filtered scan of the source
    view: pruning must be invisible in the answer, by construction.

    100 TB: the z-order layout makes the box land in few files
    (SCALING.md r11: 2/64 files z-ordered vs 64/64 random); the
    manifest read replaces a million footer opens with one tiny
    parquet scan. Reference analog: BloomMapFile's membership gate in
    front of the MapFile index (``C/io/BloomMapFile.java:45``)."""
    from hadoop_20_warehouse_fix_spark.operators.sort import write_zordered
    from hadoop_20_warehouse_fix_spark.sources.manifest import (
        read_pruned,
        write_file_stats_manifest,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"
    )
    path = scratch_dir(prefix="manifest_q_") + "/ztab"
    write_zordered(li, path, ["l_orderkey", "l_partkey"], bits=16, num_files=16)
    write_file_stats_manifest(spark, path, cols=["l_orderkey", "l_partkey"])
    return read_pruned(
        spark, path, {"l_orderkey": (2000, 4000), "l_partkey": (100, 600)}
    )


@query(
    "keyed_change_feed",
    oracle="""
    SELECT p_partkey,
           CASE WHEN p_partkey % 6 = 4 THEN NULL
                WHEN p_partkey % 9 = 1 THEN p_retailprice + 9
                ELSE p_retailprice + 5 END AS p_retailprice,
           CASE WHEN p_partkey % 6 = 4 THEN NULL
                WHEN p_partkey % 9 = 1 THEN 'B2' ELSE 'B1' END AS p_brand,
           CASE WHEN p_partkey % 6 = 4 THEN 'delete' ELSE 'upsert' END AS _change_op,
           CAST(CASE WHEN p_partkey % 6 = 4 THEN 3
                     WHEN p_partkey % 9 = 1 THEN 2 ELSE 1 END AS BIGINT) AS _seq
    FROM part WHERE p_partkey % 3 = 1
    """,
)
def keyed_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change feed OUT (round 12): two delta batches land on a keyed
    table, then :func:`~..sources.keyed.read_keyed_changes` returns the
    NET change per key (latest-seq-wins within the window) — what a
    downstream incremental consumer applies instead of re-diffing the
    table. Batch 2 (seq 2) overrides a slice of batch 1 (%9==1 is a
    subset of %3==1), batch 3 (seq 3) tombstones another (%6==4 —
    overlapping batch 2 at k=10 mod 18, where the delete must win);
    the oracle recomputes the expected net rows, ops, and seq numbers
    from the source view.

    100 TB: the feed scans O(pending delta) files and shuffles only
    delta rows; the base is never touched. Seq numbering is monotonic
    across compactions (the hwm file), so consumer checkpoints never
    alias; a checkpoint older than the un-compacted window raises
    toward re-sync — the Delta/Hudi incremental-read retention
    contract."""
    from hadoop_20_warehouse_fix_spark.sources.keyed import (
        read_keyed_changes,
        upsert_keyed_table,
        write_keyed_table,
    )
    from hadoop_20_warehouse_fix_spark.sources.keyed import (
        delete_from_keyed_table,
    )

    part = load_table(spark, sf_dir, "part")
    path = scratch_dir(prefix="keyed_feed_q_") + "/tab"
    write_keyed_table(part, path, ["p_partkey"], num_buckets=8, assume_unique=True)
    k = F.col("p_partkey")
    upd1 = (
        part.filter(k % 3 == 1)
        .withColumn("p_retailprice", F.col("p_retailprice") + 5)
        .withColumn("p_brand", F.lit("B1"))
    )
    upsert_keyed_table(spark, path, upd1, assume_unique=True)
    upd2 = (
        part.filter(k % 9 == 1)
        .withColumn("p_retailprice", F.col("p_retailprice") + 9)
        .withColumn("p_brand", F.lit("B2"))
    )
    upsert_keyed_table(spark, path, upd2, assume_unique=True)
    delete_from_keyed_table(
        spark, path, part.filter(k % 6 == 4).select("p_partkey")
    )
    feed = read_keyed_changes(spark, path)
    return feed.select("p_partkey", "p_retailprice", "p_brand", "_change_op", "_seq")


@query(
    "keyed_schema_evolution",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           CASE WHEN o_orderkey % 25 = 11 THEN 'gold' END AS tier
    FROM orders
    """,
)
def keyed_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution under the oracle gate (round 12): a
    MOR batch carries a NEW column (``tier``) with
    ``evolve_schema=True`` — the schema evolves atomically before the
    delta commits (one manifest PUT), rows never rewritten read the
    column as NULL via the explicit-schema readers, and compaction
    folds the evolved schema into the touched buckets. The oracle
    recomputes the end state: the evolved column is NULL everywhere
    except the evolved batch's keys.

    100 TB: evolution is a metadata PUT + one O(batch) delta — zero
    data files rewritten up front; the base converges to the new
    schema as buckets churn. The CDC shape every growing training-data
    pipeline hits (new labels/scores arriving mid-stream)."""
    from hadoop_20_warehouse_fix_spark.sources.keyed import (
        compact_keyed_table,
        read_keyed_table,
        upsert_keyed_table,
        write_keyed_table,
    )

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    path = scratch_dir(prefix="keyed_evo_q_") + "/tab"
    write_keyed_table(orders, path, ["o_orderkey"], num_buckets=8, assume_unique=True)
    k = F.col("o_orderkey")
    wide = orders.filter(k % 25 == 11).withColumn("tier", F.lit("gold"))
    upsert_keyed_table(
        spark, path, wide, assume_unique=True, evolve_schema=True
    )
    compact_keyed_table(spark, path)  # fold the evolved schema into the base
    return read_keyed_table(spark, path).select("o_orderkey", "o_totalprice", "tier")


@query(
    "keyed_schema_widening",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 25 = 11
                THEN 5000000000 + CAST(o_orderkey AS BIGINT)
                ELSE CAST(o_orderkey % 100 AS BIGINT) END AS qty
    FROM orders
    """,
)
def keyed_schema_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-WIDENING schema evolution under the oracle gate (round 14,
    brief #6): the table loads ``qty`` as a 32-bit int; a MOR batch
    arrives with ``qty`` as bigint carrying values past int range and
    ``evolve_schema=True`` widens the column as a METADATA-ONLY commit
    (one atomic manifest PUT — zero base files
    rewritten; Spark's vectorized parquet reader upcasts the old int32
    pages at scan time). ``compact_keyed_table(rewrite_all=True)`` then
    converges the physical file type (pinned int64-only in
    tests/test_keyed_widening.py). The oracle recomputes the end state
    exactly — old rows keep their int-era values, widened-batch rows
    carry the >2³¹ values only a bigint can.

    100 TB: the widening itself is O(metadata) — the Delta/Iceberg
    type-widening contract re-expressed on plain directories; the
    physical convergence is the same amortized churn additive evolution
    already pays."""
    from hadoop_20_warehouse_fix_spark.sources.keyed import (
        compact_keyed_table,
        read_keyed_table,
        upsert_keyed_table,
        write_keyed_table,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", (F.col("o_orderkey") % 100).cast("int").alias("qty")
    )
    path = scratch_dir(prefix="keyed_widen_q_") + "/tab"
    write_keyed_table(orders, path, ["o_orderkey"], num_buckets=8, assume_unique=True)
    k = F.col("o_orderkey")
    big = orders.filter(k % 25 == 11).withColumn(
        "qty", (F.lit(5_000_000_000) + k).cast("bigint")
    )
    upsert_keyed_table(
        spark, path, big, assume_unique=True, evolve_schema=True
    )
    compact_keyed_table(spark, path, rewrite_all=True)
    return read_keyed_table(spark, path).select("o_orderkey", "qty")


@query(
    "keyed_time_travel",
    oracle="""
    SELECT c_custkey, c_name,
           CASE WHEN c_custkey % 10 = 3 THEN c_acctbal + 1
                ELSE c_acctbal END AS c_acctbal,
           CAST(NULL AS DOUBLE) AS score
    FROM customer
    """,
)
def keyed_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel (round 13): ``read_keyed_table(at_commit=n)`` on a
    marker-protocol table reconstructs the table AS OF commit ``n`` —
    the Delta/Iceberg ``VERSION AS OF`` on plain directories. The query
    builds four generations of history and reads the SECOND:

    1. load ``customer``                           (commit 1)
    2. MOR upsert: %10==3 gets acctbal+1           (delta seq 1)
    3. additive evolution (new ``score`` column)   (commit 2 — records
       seq 1 as pending; the evolving batch itself lands after)
    4. compaction (folds seqs into the base; the seq dirs stay where
       they were written)                          (commit 3)
    5. upsert: %10==5 gets acctbal+2               (delta seq 3)

    Reading at_commit=2 must resolve the COMMIT-2 manifest's immutable
    bucket dirs and overlay its folded delta seq 1 (both kept by
    gc_generations), present the evolved schema
    (score NULL everywhere — the evolving batch is post-commit), and
    show none of step 5. The oracle recomputes exactly that state from
    the source view. 100 TB: history costs only retained manifests +
    retained delta dirs — never a table copy.
    """
    from hadoop_20_warehouse_fix_spark.sources.keyed import (
        compact_keyed_table,
        read_keyed_table,
        upsert_keyed_table,
        write_keyed_table,
    )

    cust = load_table(spark, sf_dir, "customer")
    path = scratch_dir(prefix="keyed_tt_q_") + "/tab"
    write_keyed_table(
        cust, path, ["c_custkey"], num_buckets=8, assume_unique=True,
        gc_generations=4,
    )
    k = F.col("c_custkey")
    upd = cust.filter(k % 10 == 3).withColumn(
        "c_acctbal", F.col("c_acctbal") + 1
    )
    upsert_keyed_table(spark, path, upd, assume_unique=True)
    wide = cust.filter(k == 1).withColumn("c_custkey", F.lit(-1).cast("long")) \
               .withColumn("score", F.lit(0.5))
    upsert_keyed_table(
        spark, path, wide, assume_unique=True, evolve_schema=True
    )
    compact_keyed_table(spark, path)
    upd2 = cust.filter(k % 10 == 5).withColumn(
        "c_acctbal", F.col("c_acctbal") + 2
    ).withColumn("score", F.lit(None).cast("double"))
    upsert_keyed_table(spark, path, upd2, assume_unique=True)
    return read_keyed_table(spark, path, at_commit=2).select(
        "c_custkey", "c_name", "c_acctbal", "score"
    )


@query(
    "keyed_rollback",
    oracle="""
    SELECT s_suppkey, s_name,
           CASE WHEN s_suppkey % 10 = 3 THEN s_acctbal + 5
                ELSE s_acctbal END AS s_acctbal
    FROM supplier
    """,
)
def keyed_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollback (round 13): one manifest PUT moves a marker table back
    to a prior compacted commit — bad-batch recovery at O(metadata),
    no copy, no restore-from-backup. The query loads ``supplier``
    (commit 1), applies a GOOD generation (%10==3 gets acctbal+5,
    compacted — commit 2), then a BAD generation (a compacted
    corruption of %10==7 AND a pending MOR delta), rolls back to
    commit 2, and
    returns the current read. The oracle recomputes the good state
    from the source view — every trace of the bad generation must be
    gone, including the pending delta (retired by the delta_floor in
    the same atomic PUT). History keeps moving forward: the rollback
    is itself a commit, so the skipped generation stays
    time-travel-readable while retention lasts, and a bad rollback can
    be rolled back."""
    from hadoop_20_warehouse_fix_spark.sources.keyed import (
        compact_keyed_table,
        read_keyed_table,
        rollback_keyed_table,
        upsert_keyed_table,
        write_keyed_table,
    )

    sup = load_table(spark, sf_dir, "supplier")
    path = scratch_dir(prefix="keyed_rb_q_") + "/tab"
    write_keyed_table(
        sup, path, ["s_suppkey"], num_buckets=4, assume_unique=True,
        gc_generations=4,
    )
    k = F.col("s_suppkey")
    good = sup.filter(k % 10 == 3).withColumn(
        "s_acctbal", F.col("s_acctbal") + 5
    )
    upsert_keyed_table(spark, path, good, assume_unique=True)
    compact_keyed_table(spark, path)
    bad = sup.filter(k % 10 == 7).withColumn(
        "s_acctbal", F.lit(-1.0)
    ).withColumn("s_name", F.lit("CORRUPT"))
    upsert_keyed_table(spark, path, bad, assume_unique=True)
    compact_keyed_table(spark, path)
    bad2 = sup.filter(k % 100 == 11).withColumn("s_name", F.lit("CORRUPT2"))
    upsert_keyed_table(spark, path, bad2, assume_unique=True)
    rollback_keyed_table(spark, path, to_commit=2)
    return read_keyed_table(spark, path).select(
        "s_suppkey", "s_name", "s_acctbal"
    )


@query(
    "keyed_history",
    oracle="""
    SELECT * FROM (VALUES
      (CAST(1 AS BIGINT), 8, 0, 4, FALSE),
      (CAST(2 AS BIGINT), 8, 0, 4, FALSE),
      (CAST(3 AS BIGINT), 8, 1, 5, FALSE),
      (CAST(4 AS BIGINT), 8, 0, 5, TRUE)
    ) AS t(commit_n, live_buckets, pending_deltas, n_data_cols, is_current)
    """,
)
def keyed_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``keyed_table_history`` (round 14 — the Delta DESCRIBE HISTORY
    analog) under the oracle gate: build four deterministic generations
    on a marker table —

    1. initial load of supplier          (commit 1: 8 buckets, 4 cols)
    2. update of %7==2 keys, compacted   (commit 2)
    3. MOR delta (seq 2), then an additive evolution ('tier') whose
       meta-only publish records it pending (commit 3: pending=1,
       5 cols)
    4. compaction folding seqs 2-3       (commit 4: pending=0, current)

    — and compare the listed history against the hand-computed VALUES
    oracle (timestamps excluded: informational, nondeterministic).
    This pins that every lifecycle step publishes exactly one commit
    with exactly the bucket/pending/schema bookkeeping time travel and
    rollback rely on. 100 TB: the listing is O(retained manifests) —
    a few KB of JSON regardless of table size."""
    from hadoop_20_warehouse_fix_spark.sources.keyed import (
        compact_keyed_table,
        keyed_table_history,
        upsert_keyed_table,
        write_keyed_table,
    )

    supp = load_table(spark, sf_dir, "supplier")
    path = scratch_dir(prefix="keyed_hist_q_") + "/tab"
    write_keyed_table(
        supp, path, ["s_suppkey"], num_buckets=8, assume_unique=True,
        gc_generations=8,
    )
    k = F.col("s_suppkey")
    upd = supp.filter(k % 7 == 2).withColumn("s_acctbal", F.col("s_acctbal") + 1)
    upsert_keyed_table(spark, path, upd, assume_unique=True)
    compact_keyed_table(spark, path)
    mor = supp.filter(k % 7 == 3).withColumn("s_acctbal", F.col("s_acctbal") + 2)
    upsert_keyed_table(spark, path, mor, assume_unique=True)
    wide = supp.filter(k % 11 == 1).withColumn("tier", F.lit("gold"))
    upsert_keyed_table(
        spark, path, wide, assume_unique=True, evolve_schema=True
    )
    compact_keyed_table(spark, path)
    return keyed_table_history(spark, path).select(
        "commit_n", "live_buckets", "pending_deltas", "n_data_cols", "is_current"
    )


@query(
    "keyed_column_drop",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_custkey % 9 = 2 THEN 'u1' ELSE c_name END AS c_name,
           CASE WHEN c_custkey % 9 = 2 THEN c_acctbal + 10
                WHEN c_custkey % 9 = 5 THEN c_acctbal + 20
                ELSE c_acctbal END AS c_acctbal,
           CASE WHEN c_custkey % 9 = 5 THEN 'u2' ELSE c_mktsegment END AS c_mktsegment
    FROM customer
    """,
)
def keyed_column_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DROP-column evolution under the oracle gate (round 14 — with
    widening, this closes verdict missing #4's first two asks): load
    ``customer`` keyed on ``c_custkey``, MOR-update %9==2 rows (full
    5-column batches), then ``drop_keyed_columns(['c_nationkey'])`` —
    ONE atomic meta/manifest PUT, zero file rewrites — then MOR-update
    %9==5 rows with the new slimmer 4-column batch shape. The read
    returns the 4 surviving columns; pre-drop files and deltas still
    physically carry ``c_nationkey`` but the explicit-schema readers
    never request it (parquet column pruning). The oracle recomputes
    both update generations over the source view without the dropped
    column.

    100 TB: the drop costs one control-file PUT; storage reclaim rides
    the churn you already pay (or one rewrite_all pass). Reference
    analog: field-selection projection discipline
    (``src/mapred/.../lib/FieldSelectionMapReduce.java``) applied at
    the table-contract level."""
    from hadoop_20_warehouse_fix_spark.sources.keyed import (
        drop_keyed_columns,
        read_keyed_table,
        upsert_keyed_table,
        write_keyed_table,
    )

    cust = load_table(spark, sf_dir, "customer")
    path = scratch_dir(prefix="keyed_drop_q_") + "/tab"
    write_keyed_table(cust, path, ["c_custkey"], num_buckets=8, assume_unique=True)
    k = F.col("c_custkey")
    u1 = (
        cust.filter(k % 9 == 2)
        .withColumn("c_name", F.lit("u1"))
        .withColumn("c_acctbal", F.col("c_acctbal") + 10)
    )
    upsert_keyed_table(spark, path, u1, assume_unique=True)
    drop_keyed_columns(spark, path, ["c_nationkey"])
    u2 = (
        cust.filter(k % 9 == 5)
        .drop("c_nationkey")
        .withColumn("c_mktsegment", F.lit("u2"))
        .withColumn("c_acctbal", F.col("c_acctbal") + 20)
    )
    upsert_keyed_table(spark, path, u2, assume_unique=True)
    return read_keyed_table(spark, path).select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
