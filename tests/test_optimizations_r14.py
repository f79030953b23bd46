"""Round-14 optimization pins — each asserts the MECHANISM an
optimization relies on, so a Spark upgrade or refactor that silently
reverts it fails loudly (the walls themselves are environment-dependent
and live in BENCH artifacts, not asserts).

Covered mechanisms (see OPTIMIZATION_r14.md):
1. posting-stage parallelism pin: the pair-explode reduce runs on a
   user repartition AQE may not coalesce, and the groupBy reuses that
   exchange (no extra shuffle);
2. corpus_clean duplicate-evaluation guard: the keep-filter stays ABOVE
   the scoring projection — nothing interpreted is pushed below the
   fan-out exchange into the single-task scan stage;
3. catalog schema memo: the second load of a table runs ZERO jobs at
   build (no per-build footer-inference job), and the memoized read is
   value-identical.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import count_jobs

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from hadoop_20_warehouse_fix_spark.session import build_session

    s = build_session(app_name="test-opt-r14", shuffle_partitions=8)
    yield s


def _walk(node):
    stack = [node]
    while stack:
        n = stack.pop()
        yield n
        ch = n.children()
        for i in range(ch.length()):
            stack.append(ch.apply(i))


def test_posting_groupby_reuses_pinned_repartition(spark):
    """ngram_jaccard_pairs: exactly one exchange feeds the posting
    aggregation, and it is the user REPARTITION_BY_NUM (which AQE may
    not coalesce) sized to spark.sql.shuffle.partitions — the guard
    against the round-14 finding that AQE sized the pair-explode stage
    by its input bytes (4/32 cores at sf0.1)."""
    from hadoop_20_warehouse_fix_spark.catalog import load_table
    from hadoop_20_warehouse_fix_spark.operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, SF, "documents")
    df = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_conf = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # the posting exchange is the user repartition, at the conf's count
    assert f"REPARTITION_BY_NUM" in plan
    assert f"hashpartitioning(sh#" in plan
    # no second exchange between the repartition and the posting agg:
    # physical exchanges = posting repartition + pair groupBy only
    assert plan.count("Exchange ") == 2, plan[:2000]
    # and the repartition count is the session knob, not a constant
    assert f", {n_conf}), REPARTITION_BY_NUM" in plan


def test_corpus_gate_filter_not_pushed_below_fanout(spark):
    """corpus_clean: the keep-filter must sit ABOVE the scoring
    projection — the shuffle(array(ls))[0] non-determinism guard blocks
    PushDownPredicate from re-expanding pred/q over raw text below the
    fan-out exchange (where it ran the interpreted scoring ~7x per row
    on one task, twice). Asserts on the OPTIMIZED logical plan: the
    subtree below the round-robin repartition contains no Filter at
    all (the scan side carries no predicate work)."""
    from hadoop_20_warehouse_fix_spark.queries import load_all

    df = load_all()["corpus_clean"].fn(spark, SF)
    root = df._jdf.queryExecution().optimizedPlan()
    # the gate subtree lives inside the s2 persist — pull the cached
    # physical plan out of the InMemoryRelation and assert on it
    cached = None
    for node in _walk(root):
        if node.nodeName() == "InMemoryRelation":
            cached = node.cachedPlan().toString()
            break
    assert cached is not None, "corpus_clean s2 persist missing"
    # physical plans print top-down (parents before children): nothing
    # below the fan-out exchange means no "Filter" line AFTER the
    # RoundRobin exchange line
    assert "RoundRobinPartitioning" in cached, cached[:1500]
    below_exchange = cached.split("RoundRobinPartitioning", 1)[1]
    # \bFilter\b matches a Filter OPERATOR, not the scan's always-present
    # "DataFilters:/PushedFilters:" metadata keys
    import re

    assert not re.search(r"\bFilter\b", below_exchange), below_exchange[:1500]
    # and the guard expression is present exactly where documented
    assert "shuffle(array(" in cached


def test_load_table_schema_memo_skips_inference_job(spark):
    """catalog.load_table: the FIRST load of a path may run the footer
    schema-inference job; the second must run ZERO jobs at build (the
    memoized schema goes straight to spark.read.schema). Values are
    identical either way."""
    from hadoop_20_warehouse_fix_spark.catalog import _SCHEMA_CACHE, load_table

    first = load_table(spark, SF, "region")
    assert any(p.endswith("region.parquet") for p in _SCHEMA_CACHE)
    second, n = count_jobs(spark, lambda: load_table(spark, SF, "region"))
    assert n == 0, "memoized load_table must not run a job at build"
    assert second.schema == first.schema
    assert sorted(map(tuple, second.collect())) == sorted(map(tuple, first.collect()))
