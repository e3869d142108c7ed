"""Operator contracts on edge inputs: facility location's local and
distributed tiers agree (or refuse alike), and operators leave the
caller's session configuration and temp dir as they found it."""

from __future__ import annotations

import os
import tempfile

import pytest

from diversity_maximization_spark import api, scratch
from diversity_maximization_spark.registry import QUERIES

_POINTS = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 1.0]), (3, [2.0, 0.5])]


@pytest.fixture(params=["local", "distributed"])
def fl_tier(request, monkeypatch):
    if request.param == "distributed":
        monkeypatch.setenv("SPARK_GRAFT_FL_LOCAL_MAX", "0")
    else:
        monkeypatch.delenv("SPARK_GRAFT_FL_LOCAL_MAX", raising=False)
    return request.param


def _frame(spark, points):
    return spark.createDataFrame(points, "vec_id bigint, embedding array<double>")


def test_facility_location_zero_vector_refused(spark, fl_tier):
    pts = _POINTS[:3] + [(3, [0.0, 0.0])]
    with pytest.raises(ValueError, match="zero-norm"):
        api.facility_location(_frame(spark, pts), k=2)


def test_facility_location_duplicate_ids_refused(spark, fl_tier):
    pts = _POINTS[:3] + [(1, [2.0, 0.5])]
    with pytest.raises(ValueError, match="duplicate vec_id"):
        api.facility_location(_frame(spark, pts), k=2)


def test_facility_location_k_above_n_clamped(spark, fl_tier):
    got = api.facility_location(_frame(spark, _POINTS), k=10).collect()
    assert [r["sel_order"] for r in got] == [0, 1, 2, 3]
    assert sorted(r["vec_id"] for r in got) == [0, 1, 2, 3]
    objs = [r["objective"] for r in got]
    assert objs == sorted(objs) and objs[-1] <= len(_POINTS)
    want = api.facility_location(_frame(spark, _POINTS), k=4).collect()
    assert got == want


def test_facility_location_tiers_agree_on_k_above_n(spark, monkeypatch):
    df = _frame(spark, _POINTS)
    local = api.facility_location(df, k=10).collect()
    monkeypatch.setenv("SPARK_GRAFT_FL_LOCAL_MAX", "0")
    assert api.facility_location(df, k=10).collect() == local


def test_catalog_analyze_stats_restores_cbo(spark, sf_dir):
    key = "spark.sql.cbo.enabled"
    before = spark.conf.get(key)
    QUERIES["catalog_analyze_stats"](spark, sf_dir).collect()
    assert spark.conf.get(key) == before


def test_catalog_analyze_stats_registers_its_database_dir(spark, sf_dir):
    db_loc = os.path.join(tempfile.gettempdir(), f"dms_stats_db_{os.getpid()}")
    QUERIES["catalog_analyze_stats"](spark, sf_dir).collect()
    assert db_loc in scratch._SCRATCH
