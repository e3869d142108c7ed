"""MapReduce composable coreset (SURVEY.md §2.1 / PAPER-VLDB17 §4).

Plan shape (idiomatic Spark, no RDDs):

  points --[deterministic pseudo-random partition key:
            portable multiplicative mix of (id, seed) -> 0..p-1,
            see part_mix()]--> groupBy(part)
         --applyInPandas--> per-partition farthest-first kernel of
            size k' + up to m delegates per kernel point
         --> small DataFrame (p * k' * (m+1) rows) that either
             composes by union with other coresets or collects to the
             driver for the sequential finish: unsorted, in one Arrow
             transfer, then sorted by vec_id on the driver
             (collect_sorted), so the kernel stage runs exactly once.

The partition key is a hash of the unique id, not repartition()'s
round-robin: the coreset guarantee needs a random-like assignment
that is ALSO reproducible across runs and cluster layouts
(SURVEY.md §4.3). At 100 TB, p scales with cluster size and the
shuffle moves each point once; the applyInPandas kernel is O(n_p·k')
per partition in vectorized numpy: one distance pass per chosen
center (kernel.farthest_first_clusters yields the nearest-center
labels and distances alongside the traversal).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import kernel as K

CORESET_SCHEMA = (
    "part int, vec_id bigint, label int, is_kernel int, center_rank int, "
    "dist_to_center double, weight bigint, embedding array<double>"
)
COLUMNS = [
    "part", "vec_id", "label", "is_kernel", "center_rank",
    "dist_to_center", "weight", "embedding",
]


def _points(pdf: pd.DataFrame) -> np.ndarray:
    """A partition's embeddings as a float64 (n, d) matrix. A NaN or
    ±inf coordinate would win farthest-first's argmax and poison every
    distance, so it is rejected with the offending vec_id."""
    X = np.stack(pdf["embedding"].map(np.asarray).to_numpy()).astype(np.float64)
    bad = ~np.isfinite(X).all(axis=1)
    if bad.any():
        vid = int(pdf["vec_id"].iloc[int(np.argmax(bad))])
        raise ValueError(f"non-finite embedding (NaN or inf) at vec_id {vid}")
    return X


def _coreset_frame(pdf, X, idx, is_kernel, rank, dist, weight) -> pd.DataFrame:
    """Output rows for the partition points at positions `idx`."""
    n = len(idx)
    return pd.DataFrame({
        "part": np.full(n, int(pdf["part"].iloc[0])),
        "vec_id": pdf["vec_id"].to_numpy()[idx],
        "label": pdf["label"].to_numpy()[idx],
        "is_kernel": is_kernel,
        "center_rank": rank,
        "dist_to_center": dist,
        "weight": weight,
        "embedding": list(X[idx]),
    }, columns=COLUMNS)


def _partition_coreset(kprime: int, m: int):
    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        X = _points(pdf)
        chosen, _, min_dist, label = K.farthest_first_clusters(X, kprime, start=0)
        k = len(chosen)
        # a center belongs to its own cluster (a duplicate of an earlier
        # center is nearest to both), so it is never another's delegate
        label[chosen] = np.arange(k)
        # weight = cluster size (delegate-weighted coreset)
        counts = np.bincount(label, minlength=k)
        # delegates: each cluster's first m non-center members in
        # vec_id order (deterministic: lowest vec_id delegates)
        members = np.setdiff1d(np.arange(len(X)), chosen)
        members = members[np.argsort(label[members], kind="stable")]
        by_rank = label[members]
        taken = members[np.arange(len(members)) - np.searchsorted(by_rank, by_rank) < m]
        n_taken = np.bincount(label[taken], minlength=k)
        # rows grouped by rank: the kernel point, then its delegates.
        # Kernel weight = cluster members it represents (itself +
        # non-exported members); exported delegates weigh 1 each, so
        # each input point is accounted exactly once.
        rank = np.concatenate([np.arange(k), label[taken]])
        order = np.argsort(rank, kind="stable")
        idx, rank, kernel = np.concatenate([chosen, taken])[order], rank[order], order < k
        return _coreset_frame(
            pdf, X, idx, kernel.astype(np.int64), rank,
            np.where(kernel, 0.0, min_dist[idx]),
            np.where(kernel, counts[rank] - n_taken[rank], 1),
        )

    return fn


def part_mix(p: int, seed: int, id_col: str = "vec_id") -> str:
    """Deterministic pseudo-random partition key as a PORTABLE SQL
    fragment (the sample_hash_split Knuth-mix idiom): high bits of a
    32-bit multiplicative hash mapped through [0,1) to 0..p-1.
    Identical arithmetic in Spark and DuckDB, which is what lets the
    div_coreset_mr oracle replay the partitioning — the previous
    xxhash64 key was engine-specific. Still id-only (reproducible
    across runs and cluster layouts, SURVEY.md §4.3) and random-like
    (the multiplier mixes the high bits; taking floor(u01 * p) uses
    them, never id % p)."""
    return (
        f"CAST(floor(((({id_col} + {seed}) % 2147483648) * 2654435761 "
        f"% 4294967296) / 4294967296.0 * {p}) AS INT)"
    )


def mr_coreset(
    df: DataFrame,
    p: int = 4,
    kprime: int = 16,
    m: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Composable coreset over (vec_id, embedding, label) rows."""
    parted = df.withColumn("part", F.expr(part_mix(p, seed)))
    return parted.groupBy("part").applyInPandas(
        _partition_coreset(kprime, m), CORESET_SCHEMA
    )


ASSIGN_SCHEMA = (
    "part int, vec_id bigint, label int, center_rank int, "
    "dist_to_center double, embedding array<double>"
)


def _partition_assign(kprime: int):
    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        X = _points(pdf)
        _, _, min_dist, label = K.farthest_first_clusters(X, kprime, start=0)
        return pd.DataFrame(
            {
                "part": pdf["part"],
                "vec_id": pdf["vec_id"],
                "label": pdf["label"],
                "center_rank": label,
                "dist_to_center": min_dist,
                "embedding": pdf["embedding"],
            }
        )

    return fn


def cluster_assignments(
    df: DataFrame, p: int = 4, kprime: int = 8, seed: int = 42
) -> DataFrame:
    """Every point tagged with its (partition, cluster) — the substrate
    for matroid-aware delegate selection (windowed top-m per
    (cluster, category), SURVEY.md §2.2-I div_matroid_partition)."""
    parted = df.withColumn("part", F.expr(part_mix(p, seed)))
    return parted.groupBy("part").applyInPandas(
        _partition_assign(kprime), ASSIGN_SCHEMA
    )


def collect_sorted(df: DataFrame, key: str, vec_col: str, *cols: str):
    """The driver boundary: one Arrow transfer of the `key`, `vec_col`
    and `cols` columns, ordered by `key` on the driver with a stable
    argsort. A Spark orderBy would range-partition first, and the
    range partitioner's sampling job re-executes the whole upstream
    plan (for a coreset: the pandas kernel stage). Returns
    (keys, X, *cols) as numpy arrays; X is the (n, d) float64 matrix
    of the array column `vec_col`."""
    t = df.select(key, vec_col, *cols).toArrow()
    keys = t.column(key).to_numpy()
    order = np.argsort(keys, kind="stable")
    vec = t.column(vec_col).combine_chunks()
    lengths = vec.value_lengths().to_numpy(zero_copy_only=False)
    if vec.null_count or (lengths != lengths[:1]).any():
        raise ValueError(f"{vec_col} must hold equal-length, non-NULL arrays")
    flat = vec.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    X = flat.reshape(len(vec), lengths[0] if len(vec) else 0)
    return (keys[order], X[order], *(t.column(c).to_numpy()[order] for c in cols))


def collect_coreset(coreset_df: DataFrame):
    """Compose (union is implicit — one DataFrame) and materialize the
    coreset on the driver for the sequential finish: returns
    (ids, labels, X, weights) sorted by vec_id."""
    ids, X, labels, w = collect_sorted(coreset_df, "vec_id", "embedding", "label", "weight")
    return ids, labels, X, w


def _weighted_partition_coreset(kprime: int):
    """Level-2+ kernel: points already CARRY weights (they are a
    lower level's coreset); the kernel keeps farthest-first geometry
    and each kernel point absorbs the total weight of the points
    assigned to it — the invariant that makes composition lossless
    in mass at every level."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        X = _points(pdf)
        chosen, _, _, label = K.farthest_first_clusters(X, kprime, start=0)
        k = len(chosen)
        w_out = np.zeros(k, dtype=np.int64)
        np.add.at(w_out, label, pdf["weight"].to_numpy().astype(np.int64))
        return _coreset_frame(
            pdf, X, chosen, np.ones(k, dtype=np.int64), np.arange(k),
            np.zeros(k), w_out,
        )

    return fn


def tree_coreset(
    df: DataFrame,
    p1: int = 8,
    p2: int = 2,
    kprime: int = 16,
    seed: int = 42,
) -> DataFrame:
    """TWO-LEVEL composable-coreset tree (the composability theorem
    exercised, not just asserted): level 1 builds p1 per-partition
    coresets from the raw points; level 2 groups those coresets into
    p2 groups and runs the WEIGHTED kernel over them, so the final
    coreset is a coreset-of-coresets whose weights still sum to n.
    This is the multi-round MapReduce shape a 100 TB input needs
    when p1 coresets are themselves too many to union on one node:
    tree fan-in bounds every task's input at max(n/p1, p1*k'/p2,
    p2*k') rows — each level is one groupBy + one Arrow kernel."""
    lvl1 = mr_coreset(df, p=p1, kprime=kprime, m=0, seed=seed)
    regrouped = lvl1.filter(F.col("is_kernel") == 1).select(
        F.pmod(F.col("part").cast("bigint"), F.lit(p2)).cast("int").alias("part"),
        "vec_id",
        "label",
        "weight",
        "embedding",
    )
    return regrouped.groupBy("part").applyInPandas(
        _weighted_partition_coreset(kprime), CORESET_SCHEMA
    )
