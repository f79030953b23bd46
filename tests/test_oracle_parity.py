"""Run every registered query against its DuckDB oracle at sf0.01 —
the same check the driver's correctness gate performs — inside a
cache_scope, and check that no cached Dataset outlives the scope."""

from __future__ import annotations

import pytest

from hadoop_20_warehouse_fix_spark.plans.cache import cache_scope
from hadoop_20_warehouse_fix_spark.queries import load_all
from tests.conftest import SF_CORRECT, cache_manager_empty
from tests.oracle import compare

REGISTRY = load_all()
WITH_ORACLE = sorted(name for name, spec in REGISTRY.items() if spec.oracle)


def test_every_registered_query_has_oracle():
    """The driver can mark every registry row green: no rows-only
    entries remain (approximate operators live as plain functions with
    oracle-gated exact-replay siblings in the registry)."""
    assert all(spec.oracle for spec in REGISTRY.values())


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_oracle_parity(spark, name):
    spec = REGISTRY[name]
    spark.catalog.clearCache()
    with cache_scope():
        df = spec.fn(spark, SF_CORRECT)
        problems = compare(df, spec.oracle, SF_CORRECT)
    assert not problems, f"{name}:\n" + "\n".join(problems)
    assert cache_manager_empty(spark), f"{name} left a cached Dataset behind"


def _unregistered_approx_ops():
    """The three approximate operators retired from the registry
    (engine-specific estimates → no cross-engine oracle; their exact
    md5/KMV siblings stay oracle-gated). Still exported and executable."""
    from hadoop_20_warehouse_fix_spark.queries.aggregates import (
        agg_heavy_hitters_cms,
        agg_uniq_approx,
    )
    from hadoop_20_warehouse_fix_spark.queries.similarity import sim_ann_ivf

    return {
        "agg_uniq_approx": agg_uniq_approx,
        "agg_heavy_hitters_cms": agg_heavy_hitters_cms,
        "sim_ann_ivf": sim_ann_ivf,
    }


@pytest.mark.parametrize("name", sorted(_unregistered_approx_ops()))
def test_unregistered_approx_op_runs(spark, name):
    fn = _unregistered_approx_ops()[name]
    assert fn.__name__ not in REGISTRY
    spark.catalog.clearCache()
    with cache_scope():
        df = fn(spark, SF_CORRECT)
        assert df.count() >= 0
        assert len(df.columns) > 0
    assert cache_manager_empty(spark), f"{name} left a cached Dataset behind"
