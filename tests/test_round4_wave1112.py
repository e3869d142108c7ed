"""Property tests for select_facility_location, win_max_drawdown,
and ts_pre_post_impact."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from diversity_maximization_spark.registry import QUERIES
from diversity_maximization_spark.sources import load


def rows(spark, key, sf_dir):
    return QUERIES[key](spark, sf_dir).collect()


def test_facility_location_objective_monotone_and_greedy(spark, sf_dir):
    got = sorted(
        rows(spark, "select_facility_location", sf_dir),
        key=lambda r: r.sel_order,
    )
    assert [r.sel_order for r in got] == list(range(len(got)))
    assert len(set(r.vec_id for r in got)) == len(got)  # no repeats
    objs = [r.objective for r in got]
    # objective is monotone non-decreasing (submodular gains >= 0:
    # adding a center can only raise per-point max similarity)
    assert all(b >= a - 1e-9 for a, b in zip(objs, objs[1:]))
    # diminishing returns (submodularity): marginal gains non-increasing
    gains = [b - a for a, b in zip(objs, objs[1:])]
    assert all(b <= a + 1e-9 for a, b in zip(gains, gains[1:]))


def test_facility_location_first_pick_is_medoid(spark, sf_dir):
    """Round 1 maximizes total similarity — replay with numpy."""
    import numpy as np

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in e])
    m = np.array([list(r.embedding) for r in e], dtype=np.float64)
    nrm = np.sqrt((m * m).sum(axis=1))
    sims = (m @ m.T) / np.outer(nrm, nrm)
    s_int = np.round(sims * 1e9).astype(np.int64)
    # column c = sum over v of max(s(v, c), 0) — cur starts at 0, so
    # round 1's greatest(s, cur) clamps negative similarities
    totals = np.clip(s_int, 0, None).sum(axis=0)
    best = totals.max()
    cands = ids[totals == best]
    got = min(
        rows(spark, "select_facility_location", sf_dir),
        key=lambda r: r.sel_order,
    )
    assert got.vec_id == cands.min()
    assert math.isclose(got.objective, best / 1e9, rel_tol=1e-12)


def test_max_drawdown_replay(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.sum(F.expr("CAST(ROUND(value*100) AS BIGINT)")).alias("c"))
        .orderBy("event_type", "day")
        .collect()
    )
    series: dict = {}
    for r in daily:
        series.setdefault(r.event_type, []).append((r.day, r.c))
    expect = {}
    for t, pts in series.items():
        cum = runmax = 0
        best = (0, None)
        for day, c in pts:
            cum += c
            runmax = max(runmax, cum)
            dd = runmax - cum
            if dd > best[0]:
                best = (dd, day)
            elif best[1] is None:
                best = (best[0], day)
        expect[t] = best
    for r in rows(spark, "win_max_drawdown", sf_dir):
        dd, day = expect[r.event_type]
        assert math.isclose(r.max_drawdown, dd / 100, rel_tol=0, abs_tol=1e-9)
        assert r.trough_day == day
        assert r.max_drawdown >= 0


def test_pre_post_impact_identities(spark, sf_dir):
    got = sorted(rows(spark, "ts_pre_post_impact", sf_dir), key=lambda r: r.day)
    assert got, "post period must be non-empty"
    # cumulative effect telescopes: diff of consecutive rows equals
    # actual - counterfactual of the later row
    prev = 0.0
    for r in got:
        step = r.cumulative_effect - prev
        assert math.isclose(
            step, r.actual - r.counterfactual, rel_tol=0, abs_tol=1e-6
        )
        prev = r.cumulative_effect
        assert r.counterfactual >= 0


def test_bm25_ranking_is_take_ordered(spark, sf_dir):
    """text_bm25_topk's final ranking must compile to
    TakeOrderedAndProject(limit=20), never a global Sort."""
    from tests.test_plans import plan_of

    plan = plan_of(spark, "text_bm25_topk", sf_dir)
    assert "TakeOrderedAndProject" in plan, plan


def test_bm25_scores_positive_and_bounded(spark, sf_dir):
    got = rows(spark, "text_bm25_topk", sf_dir)
    assert 0 < len(got) <= 20
    scores = [r.bm25 for r in got]
    assert scores == sorted(scores, reverse=True)


def test_facility_location_refuses_uncoreseted_corpus(spark):
    """The kernel's n^2 pair table is only sound on a coreset: inputs
    above FL_MAX_POINTS must be refused with a pointer to the coreset
    path, never silently broadcast (the guard is one aggregate up
    front)."""
    import pytest

    from diversity_maximization_spark.llm.decontam import (
        facility_location_over,
    )

    big = spark.range(100).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
    )
    with pytest.raises(ValueError, match="coreset"):
        facility_location_over(big, k=2, max_points=99)
    # at-or-below the bound still runs
    got = facility_location_over(big.limit(5), k=2, max_points=99).collect()
    assert len(got) == 2
