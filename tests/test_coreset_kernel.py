"""The per-partition coreset kernels and the driver boundary.

The kernels cluster each point with the same distance passes that
farthest-first makes, so their output must equal the textbook form
(argmin over the full point-to-center distance matrix) bit for bit;
the collect must run the kernel stage once.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from diversity_maximization_spark.diversity import kernel as K
from diversity_maximization_spark.diversity.coreset import (
    COLUMNS,
    CORESET_SCHEMA,
    _partition_assign,
    _partition_coreset,
    _weighted_partition_coreset,
    collect_coreset,
    mr_coreset,
    part_mix,
)


def _grid(d: int) -> np.ndarray:
    """Integer grid points: many exactly equal distances."""
    axes = np.meshgrid(*[np.arange(-2, 3)] * d, indexing="ij")
    return np.stack([a.ravel() for a in axes], axis=1).astype(np.float64)


INPUTS = {
    "grid2": _grid(2),
    "grid3": _grid(3),
    "random": np.random.default_rng(7).normal(size=(300, 6)),
}


@pytest.mark.parametrize("name", sorted(INPUTS))
@pytest.mark.parametrize("metric", ["euclidean", "cosine"])
@pytest.mark.parametrize("k", [1, 5, 17, 400])
def test_farthest_first_clusters_is_argmin(name, metric, k):
    X = INPUTS[name]
    chosen, dist_when, min_dist, label = K.farthest_first_clusters(X, k, metric=metric)
    D = np.stack([K.dist_to_point(X, X[c], metric) for c in chosen], axis=1)
    assert np.array_equal(label, np.argmin(D, axis=1))
    assert np.array_equal(min_dist, D.min(axis=1))
    ff = K.farthest_first(X, k, metric=metric)
    assert np.array_equal(ff[0], chosen) and np.array_equal(ff[1], dist_when)
    assert np.array_equal(ff[2], min_dist)


def _frame(X: np.ndarray, seed: int = 0, weight: bool = False) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    n = len(X)
    pdf = pd.DataFrame({
        "part": 3,
        "vec_id": rng.permutation(10 * n)[:n].astype(np.int64),
        "label": rng.integers(0, 5, n).astype(np.int32),
        "embedding": list(X),
    })
    if weight:
        pdf["weight"] = rng.integers(1, 9, n)
    return pdf


def _reference_clusters(pdf: pd.DataFrame, kprime: int):
    """Sorted partition, its points, the farthest-first centers and the
    nearest-center assignment as an argmin over the full center-distance
    matrix."""
    pdf = pdf.sort_values("vec_id").reset_index(drop=True)
    X = np.stack(pdf["embedding"].map(np.asarray).to_numpy()).astype(np.float64)
    chosen, _, _ = K.farthest_first(X, kprime, start=0)
    assign = np.argmin(np.stack([K.l2_to_point(X, X[c]) for c in chosen], axis=1), axis=1)
    return pdf, X, chosen, assign


def _reference_coreset(pdf: pd.DataFrame, kprime: int, m: int) -> pd.DataFrame:
    """The kernel in its textbook form: one distance pass per rank for
    the delegates' distances, rows built one by one."""
    pdf, X, chosen, assign = _reference_clusters(pdf, kprime)
    counts = np.bincount(assign, minlength=len(chosen))
    rows = []
    for rank, c in enumerate(chosen):
        dist_c = K.l2_to_point(X, X[c])
        members = np.where((assign == rank) & (np.arange(len(X)) != c))[0]
        taken = members[:m]
        rows.append((3, pdf["vec_id"][c], pdf["label"][c], 1, rank, 0.0,
                     counts[rank] - len(taken), X[c]))
        rows += [(3, pdf["vec_id"][d], pdf["label"][d], 0, rank, dist_c[d], 1, X[d])
                 for d in taken]
    return pd.DataFrame(rows, columns=COLUMNS)


def _assert_frames_equal(got: pd.DataFrame, want: pd.DataFrame) -> None:
    assert list(got.columns) == list(want.columns)
    for col in want.columns:
        g, w = got[col].to_numpy(), want[col].to_numpy()
        if col == "embedding":
            g, w = np.stack(g), np.stack(w)
        assert np.array_equal(g, w), col


@pytest.mark.parametrize("name", sorted(INPUTS))
@pytest.mark.parametrize("kprime", [1, 8, 64, 1000])
@pytest.mark.parametrize("m", [0, 1, 3])
def test_partition_coreset_matches_reference(name, kprime, m):
    pdf = _frame(INPUTS[name])
    _assert_frames_equal(_partition_coreset(kprime, m)(pdf), _reference_coreset(pdf, kprime, m))


@pytest.mark.parametrize("name", sorted(INPUTS))
def test_partition_assign_matches_reference(name):
    pdf, X, chosen, assign = _reference_clusters(_frame(INPUTS[name]), 16)
    got = _partition_assign(16)(pdf)
    per_row = [K.l2_to_point(X[i : i + 1], X[chosen[a]])[0] for i, a in enumerate(assign)]
    assert np.array_equal(got["center_rank"].to_numpy(), assign)
    assert np.array_equal(got["dist_to_center"].to_numpy(), np.array(per_row))


@pytest.mark.parametrize("name", sorted(INPUTS))
def test_weighted_kernel_matches_reference(name):
    pdf, _, chosen, assign = _reference_clusters(_frame(INPUTS[name], weight=True), 16)
    w = np.zeros(len(chosen), dtype=np.int64)
    for i, a in enumerate(assign):
        w[a] += pdf["weight"][i]
    got = _weighted_partition_coreset(16)(pdf)
    assert np.array_equal(got["vec_id"].to_numpy(), pdf["vec_id"].to_numpy()[chosen])
    assert np.array_equal(got["weight"].to_numpy(), w)
    assert got["weight"].dtype == np.int64 and w.sum() == pdf["weight"].sum()


def test_duplicate_points_exported_once():
    """5 distinct vectors x 10 copies with k' = 16: the centers past
    the 5th are duplicates of earlier centers and must not also be
    emitted as those centers' delegates."""
    X = np.repeat(np.eye(5, 4) * 3.0, 10, axis=0)
    pdf = pd.DataFrame({"part": 0, "vec_id": np.arange(50), "label": 0, "embedding": list(X)})
    got = _partition_coreset(16, 1)(pdf)
    assert got["vec_id"].is_unique
    assert got["weight"].sum() == 50
    assert (got["is_kernel"] == 1).sum() == 16
    assert (got["weight"] >= 1).all()


@pytest.mark.parametrize("bad", [np.nan, np.inf, -np.inf])
def test_non_finite_embedding_is_rejected(bad):
    pdf = _frame(INPUTS["random"], weight=True)
    X = np.stack(pdf["embedding"].to_numpy())
    X[41, 2] = bad
    pdf["embedding"] = list(X)
    vid = int(pdf["vec_id"][41])
    for fn in (_partition_coreset(16, 1), _partition_assign(16), _weighted_partition_coreset(16)):
        with pytest.raises(ValueError, match=f"vec_id {vid}$"):
            fn(pdf)


def test_non_finite_embedding_fails_the_query(spark):
    rows = [(i, [float(i), 1.0]) for i in range(20)] + [(20, [float("nan"), 1.0])]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    df = df.selectExpr("vec_id", "embedding", "0 AS label")
    with pytest.raises(Exception, match="vec_id 20"):
        collect_coreset(mr_coreset(df, p=2, kprime=4))


def test_collect_runs_the_kernel_stage_once(spark, sf_dir, tmp_path):
    """The collect must not re-execute the kernel (a Spark range sort
    samples its input in an extra job that does): at most 2 jobs, and
    one kernel call per partition."""
    from diversity_maximization_spark.sources import load

    emb = load(spark, sf_dir, "embeddings")
    sc = spark.sparkContext
    sc.setJobGroup("coreset-collect", "coreset-collect")
    try:
        cs = collect_coreset(mr_coreset(emb, p=4, kprime=16))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("coreset-collect")) <= 2
    assert cs[0].tolist() == sorted(cs[0].tolist())
    assert cs[3].sum() == emb.count()

    kernel, log = _partition_coreset(16, 1), str(tmp_path / "calls")

    def counted(pdf):
        with open(log, "a") as f:
            f.write(f"{pdf['part'].iloc[0]}\n")
        return kernel(pdf)

    parted = emb.withColumn("part", F.expr(part_mix(4, 42)))
    got = collect_coreset(parted.groupBy("part").applyInPandas(counted, CORESET_SCHEMA))
    with open(log) as f:
        calls = f.read().split()
    assert len(calls) == len(set(calls)) == parted.select("part").distinct().count()
    for a, b in zip(got, cs):
        assert np.array_equal(a, b)
