#!/usr/bin/env python
"""Benchmark harness (driver contract): run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line.

Timing discipline (BASELINE.md notes): the session is created and
warmed (one trivial job) before any query is timed, so numbers are
steady-state job time, not JVM/session startup. Each query is forced
with a full collect() — the same materialization the driver's
correctness check performs.

Rep structure (r8 verdict item 3): the loop is REP-MAJOR — each of
the 3 reps times every headline query once and then times the three
host-speed anchors in the same process window, so every rep carries
its own load-contemporaneous normalizer. The JSON emits
``ratio_per_rep`` (rep_total / that rep's spark anchor) and its
median; BASELINE.md's drift rule compares the MEDIAN ratio across
rounds, never wall seconds (the r8 single-shot anchor ratio moved
26.75–35.1 on identical code purely from when the anchor ran).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

HEADLINE = [
    "agg_pricing_summary",
    "tpch_q3",
    "tpch_q5",
    "tpch_q10",
    "join_broadcast",
    "win_topk_pergroup",
    "win_sessionize",
    "div_eval_edge",
    "div_eval_clique",
    "dedup_exact",
    "sim_search_topk",
    "div_gmm",
    "div_coreset_mr",
    "dedup_minhash",
    "text_stats",
    "tfidf",
]

N_REPS = 3


def _anchor_state(spark, sf_dir: str):
    """Build + warm the anchor workloads once; reps then time them.

    - numpy_matmul_sec: pure-CPU 1536^2 dgemm — raw core speed/steal,
      no JVM, no I/O;
    - duckdb_pricing_sec: the BASELINE.md headline query
      (agg_pricing_summary oracle) in DuckDB over the same parquet —
      the baseline engine's own speed at that moment;
    - spark_range_agg_sec: a fixed 50M-row range groupBy in THIS
      session — the Spark runtime's job-execution speed at that
      moment.
    """
    import numpy as np

    from diversity_maximization_spark import registry
    from diversity_maximization_spark.testing import duck_connection

    a = np.random.RandomState(0).rand(1536, 1536)
    _ = a @ a  # BLAS thread-pool warm

    con = duck_connection(sf_dir)
    sql = registry.ORACLES["agg_pricing_summary"]
    con.execute(sql).fetchall()  # warm (footer cache, JIT)

    probe = spark.range(50_000_000)
    probe.groupBy((probe.id % 97).alias("g")).count().collect()  # warm
    return a, con, sql, probe


def time_anchors(state) -> dict[str, float]:
    """One timed execution of each anchor (already warmed)."""
    a, con, sql, probe = state
    anchors: dict[str, float] = {}

    t0 = time.perf_counter()
    b = a @ a
    anchors["numpy_matmul_sec"] = round(time.perf_counter() - t0, 4)
    del b

    t0 = time.perf_counter()
    con.execute(sql).fetchall()
    anchors["duckdb_pricing_sec"] = round(time.perf_counter() - t0, 4)

    t0 = time.perf_counter()
    probe.groupBy((probe.id % 97).alias("g")).count().collect()
    anchors["spark_range_agg_sec"] = round(time.perf_counter() - t0, 4)
    return anchors


def warm(spark, sf_dir: str) -> None:
    """Warm the JVM (codegen + JIT paths for agg/sort/window), the
    Python worker pool (Arrow serde), and the parquet footer cache —
    BASELINE.md's budget is defined on steady-state job time, and
    the first jobs of a session otherwise pay one-off JIT costs."""
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    df = spark.createDataFrame(
        [(i, float(i), [float(i)] * 4) for i in range(1000)],
        "id bigint, v double, vec array<double>",
    )
    df.groupBy((df.id % 7).alias("g")).agg({"v": "sum"}).collect()
    df.orderBy(df.v.desc()).limit(3).collect()
    df.mapInPandas(lambda it: it, "id bigint, v double, vec array<double>").count()
    df.selectExpr(
        "aggregate(zip_with(vec, vec, (x, y) -> x * y), 0D, (s, t) -> s + t)"
    ).collect()
    # Parquet datasource init (Hadoop FS classes, footer reader, scan
    # codegen) is a one-off ~2-3 s cost paid by the first file scan of
    # the session; warm it on the 5-row region table so the first
    # timed query measures steady-state scan time.
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).collect()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")

    from diversity_maximization_spark.session import get_spark

    spark = get_spark()

    from diversity_maximization_spark import registry

    registry.load_all()

    warm(spark, sf_dir)

    load_before = os.getloadavg()
    astate = _anchor_state(spark, sf_dir)

    # Rep-major: each rep times every query once, then the anchors —
    # this box shows uniform ±35% run-to-run swings from external
    # load, so each rep's total is divided by its OWN anchor reading.
    # Per-query headline numbers stay min-of-reps (the low-noise
    # estimator of steady-state job time, as before).
    reps: dict[str, list[float]] = {name: [] for name in HEADLINE}
    anchors_per_rep: list[dict[str, float]] = []
    failed: set[str] = set()
    for _ in range(N_REPS):
        for name in HEADLINE:
            fn = registry.QUERIES.get(name)
            if fn is None or name in failed:
                continue
            try:
                t0 = time.perf_counter()
                rows = fn(spark, sf_dir).collect()
                reps[name].append(time.perf_counter() - t0)
                del rows
            except Exception as exc:  # keep benching the rest
                print(f"bench: {name} failed: {exc}", file=sys.stderr)
                failed.add(name)
        anchors_per_rep.append(time_anchors(astate))
    astate[1].close()  # duckdb connection

    # Secondary measurement (r10, guide §1.4): the same queries timed
    # against the built-in noop sink, which computes every column of
    # every row and discards it. The PRIMARY numbers above stay
    # collect()-timed (unchanged methodology — identical to every
    # prior round and to the driver's correctness materialization),
    # but collect() additionally pays row-pickling of the result to
    # the Python driver, which for the large-result queries is most
    # of the measured time (win_sessionize at sf0.1: 1.61 s collect
    # vs 0.54 s noop — 95k rows of pickling, not engine time). The
    # noop numbers isolate engine compute; compare THEM when judging
    # plan changes, and the collect numbers for cross-round drift.
    noop_reps: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for _ in range(2):
        for name in HEADLINE:
            fn = registry.QUERIES.get(name)
            if fn is None or name in failed:
                continue
            try:
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                noop_reps[name].append(time.perf_counter() - t0)
            except Exception as exc:
                print(f"bench: {name} noop failed: {exc}", file=sys.stderr)
    queries_noop = {
        name: round(min(runs), 3)
        for name, runs in noop_reps.items()
        if runs
    }

    # Scaling probes (r10 verdict item 2, ADDITIVE — "queries" above is
    # untouched in membership and methodology). The driver re-runs this
    # bench at a lower $SPARK_GRAFT_CPUS to measure core scaling, but
    # every sf0.1 fixture is a single parquet row group (one task per
    # scan) and the headline queries are sub-second, so their 8-vs-32
    # ratios sit at ~1.0 by construction (measured at ~1.0 in round 10).
    # These two probes give the scaling measurement something that CAN
    # scale: a generated multi-task CPU aggregate (defaultParallelism
    # range tasks, no I/O) and a generated real shuffle (50M rows into
    # 1M deterministic pmod(xxhash64) groups — guide §2.5 key
    # discipline). Both are computed fresh per invocation from
    # spark.range — nothing is read from or keyed on the fixtures.
    from pyspark.sql import functions as SF

    def _probe_cpu():
        spark.range(6_400_000_000).selectExpr("sum(id % 1000)").collect()

    def _probe_shuffle():
        (
            spark.range(50_000_000)
            .groupBy(
                SF.pmod(SF.xxhash64("id"), SF.lit(1_000_000)).alias("g")
            )
            .count()
            .selectExpr("sum(g)", "count(1)")
            .collect()
        )

    queries_scaling: dict[str, float] = {}
    for pname, probe in (
        ("probe_cpu_agg", _probe_cpu),
        ("probe_shuffle_agg", _probe_shuffle),
    ):
        runs = []
        try:
            for _ in range(2):
                t0 = time.perf_counter()
                probe()
                runs.append(time.perf_counter() - t0)
            queries_scaling[pname] = round(min(runs), 3)
        except Exception as exc:  # pragma: no cover - keep bench alive
            print(f"bench: {pname} failed: {exc}", file=sys.stderr)

    times = {
        name: (round(min(runs), 3) if runs and name not in failed else -1.0)
        for name, runs in reps.items()
        if runs or name in failed
    }
    total = round(sum(t for t in times.values() if t >= 0), 3)
    ok = [n for n, r in reps.items() if len(r) == N_REPS and n not in failed]
    rep_totals = [
        round(sum(reps[n][i] for n in ok), 3) for i in range(N_REPS)
    ]
    ratio_per_rep = [
        round(rep_totals[i] / anchors_per_rep[i]["spark_range_agg_sec"], 2)
        for i in range(N_REPS)
    ]
    ratio_median = round(statistics.median(ratio_per_rep), 2)
    anchors_median = {
        k: round(statistics.median(a[k] for a in anchors_per_rep), 4)
        for k in anchors_per_rep[0]
    }
    load_after = os.getloadavg()

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    print(
        json.dumps(
            {
                "metric": "headline_total_runtime",
                "value": total,
                "unit": "sec",
                "queries": times,
                # Per-rep raw timings survive even when a query fails
                # on a later rep (r9 ADVICE): a flaky-once query keeps
                # its earlier successful reps here next to the -1.0
                # sentinel in "queries", so transient failures stay
                # diagnosable across rounds.
                "reps": {
                    name: [round(t, 3) for t in runs]
                    for name, runs in reps.items()
                },
                "sf": sf_val,
                # noop-sink timings (engine compute without the
                # collect()-to-Python row pickling); see comment at
                # the measurement site. Additive — "queries" above is
                # unchanged in membership and methodology.
                "queries_noop": queries_noop,
                "value_noop": round(sum(queries_noop.values()), 3),
                # Core-scaling probes (additive; see the measurement
                # site). Compare these two entries across the driver's
                # 32-core and low-core runs — the fixture-bound
                # headline queries cannot show parallel speedup at
                # sf0.1 (single-row-group scans, sub-second jobs).
                "queries_scaling": queries_scaling,
                "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
                # Drift normalization (r7 item 2, r8 item 3): compare
                # the MEDIAN per-rep ratio across rounds, not wall
                # seconds — see BASELINE.md "Drift normalization".
                "anchors": anchors_median,
                "anchors_per_rep": anchors_per_rep,
                "ratio_per_rep": ratio_per_rep,
                "ratio_median": ratio_median,
                "value_over_spark_anchor": ratio_median,
                "rep_totals": rep_totals,
                "loadavg_before": [round(x, 2) for x in load_before],
                "loadavg_after": [round(x, 2) for x in load_after],
            }
        )
    )


if __name__ == "__main__":
    main()
