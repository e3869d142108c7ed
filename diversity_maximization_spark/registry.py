"""Query/oracle registries.

Every engine operator registers here as a named query: a callable
``(spark, sf_dir) -> DataFrame`` plus, where the semantics are
SQL-expressible, the equivalent DuckDB oracle SQL (run by the driver
side-by-side at sf0.01; row-count + schema + order-insensitive
value-hash must match — see __spark_entry__.py docstring).

Determinism discipline (SURVEY.md §5.2):
- money/quantity sums go through DECIMAL(18,2) then CAST AS DOUBLE in
  BOTH engines — exact, associative, order-independent;
- averages are computed as exact-decimal-sum / count, never engine avg;
- floating expressions that are order-dependent are rounded via
  ``round(x, 6)`` on O(1) magnitudes only;
- every LIMIT / ranking is tie-broken by a unique key;
- per-row IEEE arithmetic (same expression tree both engines) is left
  unrounded — it is bit-identical.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# Keys whose physical plan INTENTIONALLY contains a CartesianProduct
# or BroadcastNestedLoopJoin, each with the bound that makes the cross
# safe at scale (a 1-row scalar side, a constant grid, declared
# pairwise semantics over a k-bounded set, ...). Populated by the
# ``bounded_cross=`` argument of @query at the registration site —
# the plan lint in tests/test_oracle.py derives its allowlist from
# THIS dict, so a new scalar cross must declare its bound where it is
# written or the suite goes red.
BOUNDED_CROSS: dict[str, str] = {}


def query(
    name: str,
    oracle: Optional[str] = None,
    bounded_cross: Optional[str] = None,
) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` as queries()[name]; optionally its oracle SQL.

    ``bounded_cross`` declares that the key's plan intentionally
    contains a cartesian/nested-loop join and states the domain bound
    that keeps it O(small) — required for the plan lint to pass.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query key: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle.strip()
        if bounded_cross is not None:
            BOUNDED_CROSS[name] = bounded_cross
        return fn

    return deco


def load_all() -> None:
    """Import every module that registers queries (idempotent).
    Registry order is this import order."""
    from .operators import (  # noqa: F401
        aggregates,
        behavior,
        graph,
        joins,
        lakehouse,
        quality,
        scalars,
        scans,
        sketches,
        sorts_setops,
        sql_interface,
        timeseries,
        tpch,
        tpch_more,
        tpch_rest,
        udfs,
        windows,
    )
    from .diversity import bow as _bow  # noqa: F401
    from .diversity import queries as _div_queries  # noqa: F401
    from .sources import formats as _formats  # noqa: F401
    from .sources import generators as _generators  # noqa: F401
    from .llm import bpe as _bpe  # noqa: F401
    from .llm import decontam as _decontam  # noqa: F401
    from .llm import queries as _llm_queries  # noqa: F401
    from .llm import textrank as _textrank  # noqa: F401
    from .streaming import queries as _stream_queries  # noqa: F401
