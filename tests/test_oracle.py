"""The one place a registered key is built in the test suite. Each key
is constructed once at sf0.001 (the driver runs the same comparison at
sf0.01), and that one DataFrame is checked in order: scalar-only
output (oracled keys), the pair-blowup plan lint (read before any
action, so AQE cannot rewrite it), then the result — a hash-match
against the DuckDB oracle, or, for a rows-only key, one collect() plus
a written justification in ROWS_ONLY.md."""

import re
from pathlib import Path

import pytest
from pyspark.sql.types import ArrayType, MapType, StructType

from diversity_maximization_spark import registry
from diversity_maximization_spark.testing import compare

ROWS_ONLY = (Path(__file__).resolve().parent.parent / "ROWS_ONLY.md").read_text()

# Relational families under the plan lint: a CartesianProduct or
# BroadcastNestedLoopJoin there is a missing equi condition, unless the
# key states its bound where it is registered (registry.BOUNDED_CROSS).
LINTED_FAMILIES = ("tpch_", "join_", "agg_", "win_", "setop_", "sort_",
                   "topk_", "merge_", "ts_", "sql_", "fn_", "filter_",
                   "proj_")
PAIR_BLOWUPS = ("CartesianProduct", "BroadcastNestedLoopJoin")


def complex_columns(df) -> list[tuple[str, str]]:
    """Array/map/struct output columns: the driver's pandas
    canonicalizer cannot hash list or dict cells."""
    return [
        (f.name, f.dataType.simpleString())
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]


def pair_blowups(key: str, df) -> list[str]:
    """Pair-blowup joins in the plan of a linted key's DataFrame."""
    if (
        key not in registry.ORACLES
        or key in registry.BOUNDED_CROSS
        or not key.startswith(LINTED_FAMILIES)
    ):
        return []
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    return [bad for bad in PAIR_BLOWUPS if bad in plan]


@pytest.mark.parametrize("key", sorted(registry.QUERIES))
def test_oracle_match(spark, duck, sf_dir, key):
    df = registry.QUERIES[key](spark, sf_dir)
    oracle = registry.ORACLES.get(key)
    if oracle is not None:
        assert complex_columns(df) == [], f"{key}: complex-typed output"
    assert pair_blowups(key, df) == [], f"{key}: unintended pair-blowup join"
    if oracle is not None:
        problems = compare(df, duck, oracle)
        assert not problems, f"{key}: {problems}"
    else:
        assert df.collect() is not None, key
        assert re.search(rf"\b{key}\b", ROWS_ONLY), f"{key}: not justified in ROWS_ONLY.md"
