"""The one cache lifetime for operator-owned persists::

    with cache_scope() as keep:
        e = keep(edges.select("src", "dst"))
        ...
        return out.localCheckpoint()

``keep`` persists lazily (``DataFrame.persist()``) and the scope releases
everything it holds on exit, also when the body raises. Returning the
``localCheckpoint``ed result inside the ``with`` pins it before the
release. A cache that a returned lazy frame still reads is caller-owned
and stays outside any scope; each such site says so.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Callable, Iterator

from pyspark.sql import DataFrame


@contextmanager
def cache_scope() -> Iterator[Callable[[DataFrame], DataFrame]]:
    """Yield ``keep(df) -> df``: persist ``df`` (adopting one a helper
    already persisted) and release it when the scope exits."""
    held: list[DataFrame] = []

    def keep(df: DataFrame) -> DataFrame:
        if not df.is_cached:
            df.persist()
        held.append(df)
        return df

    try:
        yield keep
    finally:
        for df in held:
            df.unpersist()
