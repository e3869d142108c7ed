"""The per-key profiler of tools/profile_sweep.py, on the test session.

``profile_key`` is the one timing path of the profile tools: a
``construct`` and an ``execute`` span under one ``key`` span, with the
Spark jobs of each phase counted through their job groups.
"""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

import profile_sweep  # noqa: E402
from diversity_maximization_spark import registry  # noqa: E402


def test_profile_key_times_and_counts_each_phase(spark, sf_dir):
    key = "agg_pricing_summary"
    tracer = profile_sweep.profile_key(
        spark, "test-profile-ok", key, lambda: registry.QUERIES[key](spark, sf_dir)
    )
    rec = profile_sweep.record(tracer)
    assert rec["key"] == key and "error" not in rec
    assert rec["construct"]["s"] > 0 and rec["execute"]["s"] > 0
    assert rec["execute"]["jobs"] >= 1
    assert rec["execute"]["tasks"] >= rec["execute"]["stages"] >= 1


def test_profile_key_records_a_failing_build(spark):
    def build():
        raise ValueError("no such table")

    tracer = profile_sweep.profile_key(spark, "test-profile-error", "broken", build)
    assert profile_sweep.record(tracer) == {
        "key": "broken",
        "error": "ValueError: no such table",
    }
