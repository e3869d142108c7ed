"""Planner thresholds and fixture-level invariants that registered
keys rely on. The per-key checks (schema, plan lint, oracle match)
live in tests/test_oracle.py."""

from diversity_maximization_spark import registry
from diversity_maximization_spark.plans.distance_join import (
    BROADCAST_BLAS_MAX_BYTES,
    choose_strategy,
)

registry.load_all()


def test_choose_strategy_switches_at_size_thresholds():
    """VERDICT r01 item 5: the driver-collect BLAS path must be gated
    by corpus size; beyond ~2 GB the plan must be the no-broadcast
    LSH equi-join."""
    assert choose_strategy(100, 64) == "theta"
    assert choose_strategy(5_000, 64) == "broadcast_blas"
    fits = BROADCAST_BLAS_MAX_BYTES // (64 * 8)
    assert choose_strategy(fits, 64) == "broadcast_blas"
    assert choose_strategy(fits + 1, 64) == "lsh_bucketed"
    assert choose_strategy(10**9, 64) == "lsh_bucketed"


def test_zscore_zero_variance_pinned_null(spark):
    """A constant daily series (stddev 0) must yield NULL z in BOTH
    engines: Spark's non-ANSI x/0.0 is already NULL, DuckDB needs the
    nullif guard — this pins the guarded behavior on a synthetic
    constant series (the fixtures happen to vary daily, ADVICE r02)."""
    import duckdb
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    df = spark.createDataFrame(
        [("a", 1, 5), ("a", 2, 5), ("a", 3, 5)], "event_type string, d int, n int"
    )
    t = Window.partitionBy("event_type")
    sd = F.stddev_samp("n").over(t)
    z = df.select(
        F.round((F.col("n") - F.avg("n").over(t)) / F.when(sd != 0, sd), 4).alias("z")
    ).collect()
    assert all(r["z"] is None for r in z)

    con = duckdb.connect()
    dz = con.sql(
        "SELECT round((n - AVG(n) OVER ()) / nullif(stddev_samp(n) OVER (), 0), 4)"
        " AS z FROM (VALUES (5), (5), (5)) AS t(n)"
    ).fetchall()
    assert all(r[0] is None for r in dz)


def test_heavy_hitters_mg_path_and_superset(spark, sf_dir):
    """The fixture corpus must exercise the Misra-Gries path (the
    guarantee threshold*(k+1) > n holds), and the per-partition MG
    candidate union must contain every exact heavy hitter — the
    invariant the two-pass plan rests on."""
    from pyspark.sql import functions as F

    from diversity_maximization_spark.operators.sketches import (
        _HH_DIVISOR,
        _MG_COUNTERS,
    )
    from diversity_maximization_spark.registry import QUERIES
    from diversity_maximization_spark.sources import load

    d = load(spark, sf_dir, "documents")
    n = d.select(F.sum(F.size(F.split("text", " ")))).collect()[0][0]
    thr = -(-int(n) // _HH_DIVISOR)
    assert thr * (_MG_COUNTERS + 1) > n, "fixture must take the MG path"

    exact = {
        r["word"]: r["cnt"]
        for r in d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= thr)
        .collect()
    }
    got = {
        r["word"]: r["cnt"]
        for r in QUERIES["sketch_heavy_hitters"](spark, sf_dir).collect()
    }
    assert got == exact
