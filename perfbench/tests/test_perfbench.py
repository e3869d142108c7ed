"""Self-test of the benchmark at tiny input sizes.

    python3 -m pytest perfbench/tests -q      # about 4 minutes on 4 cores

Every workload runs untraced and traced. The checks: the last stdout
line is the result object with every metric BENCHMARK.json names, each
with its unit; every output check passed; and in the traced run the
child spans of the traced pass account for its wall time within
SPAN_TOLERANCE.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOADS = {"coreset_batch": 0.05, "stream_coreset": 0.1, "query_mix": 0.05}
SPAN_TOLERANCE = 0.05  # uncovered share of the traced pass


def run_bench(workload: str, trace: int, work: str, cwd: str = ROOT, scale: float = 1.0):
    cmd = SPEC["command"] + [
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--scale", str(scale), "--work-dir", work,
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def result(proc) -> dict:
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    return out


def assert_metrics(out: dict, declared: list[dict]) -> None:
    assert set(out["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


@pytest.fixture(scope="module")
def work(tmp_path_factory):
    return str(tmp_path_factory.mktemp("perfbench_work"))


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_end_to_end_metrics(workload, work):
    out = result(run_bench(workload, 0, work, scale=WORKLOADS[workload]))
    assert_metrics(out, SPEC["end_to_end"])
    for name in ("setup_s", "wall_s", "points_per_s", "edge_ratio", "clique_ratio"):
        assert out["metrics"][name]["value"] > 0, name


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_traced_run(workload, work):
    before = set(glob.glob(os.path.join(work, "trace_*.json")))
    out = result(run_bench(workload, 1, work, scale=WORKLOADS[workload]))
    assert_metrics(out, SPEC["per_layer"])
    (path,) = set(glob.glob(os.path.join(work, "trace_*.json"))) - before
    trace = json.load(open(path))
    spans = trace["spans"]
    (body,) = [s for s in spans if s["name"] == "traced_pass"]
    wall = body["end_s"] - body["start_s"]
    covered = sum(s["end_s"] - s["start_s"] for s in spans if s["parent"] == body["id"])
    assert covered <= wall * (1 + 1e-6)
    assert covered >= wall * (1 - SPAN_TOLERANCE), (covered, wall)
    assert all(s["run_id"] == trace["run_id"] for s in spans)
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["spark.jobs"] > 0 and m["spark.tasks"] > 0
    if workload == "coreset_batch":
        assert m["coreset.kernel_tasks"] > 0 and m["coreset.rows"] > 0
        assert m["kernel.distance_evals"] > 0
    else:  # both other workloads stream
        assert m["stream.batches"] > 0 and m["stream.input_rows"] > 0
    if workload == "query_mix":
        assert m["query.result_rows"] > 0 and m["query.collect_s"] > 0


def test_refuses_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the command fails
    without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = run_bench("coreset_batch", 0, str(tmp_path / "work"), cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_digest_is_type_tagged_and_order_free():
    import workloads

    a = workloads.digest(["x", "y"], [(1, "a"), (2, "b")])
    assert a == workloads.digest(["y", "x"], [("b", 2), ("a", 1)])
    assert a != workloads.digest(["x", "y"], [(1.0, "a"), (2, "b")])
    assert a != workloads.digest(["x", "y"], [(1, "a")])
