"""Central query registry consumed by ``__spark_entry__.py``.

Each operator module registers its declared queries with :func:`query`.
A key is only registered once it hash-matches its DuckDB oracle locally
(SURVEY.md §2 declaration discipline).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from functools import wraps

from pyspark.sql import DataFrame, SparkSession

from ..session import reassert_parity, release_scoped_caches

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    key: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None => driver runs rows-only check
    tier: int


_REGISTRY: dict[str, QuerySpec] = {}


def query(key: str, oracle: str | None = None, tier: int = 1):
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under ``key``."""

    def deco(fn: QueryFn) -> QueryFn:
        if key in _REGISTRY:
            raise ValueError(f"duplicate query key: {key}")

        @wraps(fn)
        def scoped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # release the previous query's scoped persist()s: a declared
            # query's caches live until the NEXT declared query starts,
            # so the driver can still collect the returned frame but
            # caches never accumulate across a run over the whole catalog
            release_scoped_caches()
            # guard against external conf drift on the driver's long-lived
            # session: prep() is memoized per session object, so parity-
            # critical keys are re-verified (set only on drift) per entry
            reassert_parity(spark)
            return fn(spark, sf_dir)

        _REGISTRY[key] = QuerySpec(key=key, fn=scoped, oracle=oracle, tier=tier)
        return fn

    return deco


def all_queries() -> dict[str, QuerySpec]:
    return dict(_REGISTRY)
