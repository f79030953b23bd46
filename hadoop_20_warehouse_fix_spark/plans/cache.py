"""Cache lifetime: the persisted intermediates a lazy plan reads belong
to the call that runs its action inside :func:`cache_scope`, as a
JobControl DAG's temporary outputs belonged to one query (SURVEY.md §2.9).

Operators persist through :func:`persisted` whenever the frame escapes
in the plan they return, and never open a scope around that plan: the
frame must outlive the caller's action (``prefix_sum``'s range
partitioning is a correctness barrier). Outside any scope it lives until
``spark.catalog.clearCache()``. Scopes live in a ContextVar, so each
thread (``foreachBatch`` runs on a py4j callback thread) has its own.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame

_HELD: ContextVar[list[DataFrame] | None] = ContextVar("cache_scope", default=None)


@contextmanager
def cache_scope() -> Iterator[list[DataFrame]]:
    """Own every frame :func:`persisted` registers while this is the
    innermost open scope; yield that list and unpersist it on exit,
    newest first, so a frame goes before the frames its plan reads."""
    held: list[DataFrame] = []
    token = _HELD.set(held)
    try:
        yield held
    finally:
        _HELD.reset(token)
        for df in reversed(held):
            df.unpersist()


def persisted(df: DataFrame) -> DataFrame:
    """``df.persist()``, registered in the innermost open scope."""
    df = df.persist()
    held = _HELD.get()
    if held is not None:
        held.append(df)
    return df
