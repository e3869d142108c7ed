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


@pytest.mark.parametrize("bad", [[1.0, None], [float("nan"), 1.0]], ids=["null", "nan"])
def test_diversity_and_gmm_refuse_null_or_nan_elements(spark, bad):
    """A NULL element reaches the driver as NaN; both must raise
    instead of returning nan / a NULL dist_when_chosen."""
    df = _frame(spark, _POINTS[:2] + [(2, bad)])
    with pytest.raises(ValueError, match="vec_id 2$"):
        api.diversity(df, "edge")
    with pytest.raises(ValueError, match="vec_id 2$"):
        api.gmm(df, 2, distributed=False)


@pytest.mark.parametrize("distributed", [True, False], ids=["distributed", "local"])
def test_gmm_empty_input_selects_nothing(spark, distributed):
    sel = api.gmm(_frame(spark, []), 3, distributed=distributed)
    assert sel.columns == ["sel_order", "vec_id", "dist_when_chosen"]
    assert sel.collect() == []


def test_diversity_empty_input_refused(spark):
    with pytest.raises(ValueError, match="empty input"):
        api.diversity(_frame(spark, []), "edge")


@pytest.mark.parametrize(
    "objective", ["edge", "clique", "star", "bipartition", "tree", "cycle"]
)
def test_diversity_of_one_point_is_zero(spark, objective):
    assert api.diversity(_frame(spark, _POINTS[:1]), objective) == 0.0
