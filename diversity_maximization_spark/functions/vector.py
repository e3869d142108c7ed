"""Vector math over ``array<float>`` columns — the one home of the
fold-exact distance contract.

The reference's `Distance` functions (SURVEY.md §1.1: Euclidean /
cosine over dense points) become Catalyst higher-order-function
expressions: `zip_with` + `aggregate` run inside whole-stage codegen,
so a distance join never leaves the JVM.

Fold-exact contract. Every dot product, squared norm and squared
distance here is a strict LEFT FOLD in index order over
``CAST(x AS DOUBLE)`` terms (float -> double is exact), starting
from ``0.0``: ``s = ((0 + t1) + t2) + ...`` with ``t = x * y`` for a
dot and ``t = (x - y) * (x - y)`` for a squared distance (never
``pow()``). The same IEEE operation sequence is emitted in three
forms, so results are bit-identical across them:

- Spark SQL text (``*_sql``; ``aggregate(zip_with(...))``) and its
  Column wrappers;
- DuckDB mirrors (``duck_*``; ``list_sum`` over an index-ordered
  ``list_transform``, which is a sequential fold over DOUBLE) — the
  oracle side;
- Python folds (``fold_*``) for driver-side or Python-worker
  selections that must replay in both engines (numpy's pairwise
  summation would drift in the last ulp);
- the numpy column fold (``fold_sq_l2_columns`` over the column-major
  copy ``columns(X)``): the Python fold run for every point at once,
  one coordinate at a time, by elementwise ufuncs (one IEEE operation
  per element, never re-associated). Farthest-first traversal
  (``farthest_first_traversal``) runs on it, in the driver and in the
  per-partition kernel alike.

Anything derived (sqrt, cosine, normalization) is applied to a fold
result in the same expression order in every form. A driver-side
vector enters Spark as ONE parsed literal (``lit_array_sql``), so a
distance to it parses once through ``F.expr``.

At 100 TB scale these expressions vectorize per-row with no Python
boundary; the O(n^2) *pairing* cost is handled separately by the LSH /
bucketing rewrites in plans/distance_join.py, not here.

The driver boundary: a vector column becomes a numpy matrix only
through ``matrix`` (a pandas UDF batch) and ``collect_sorted`` (a pull
to the driver, unpacked by ``matrix``), so both sides validate alike.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _d(expr: str) -> str:
    return f"CAST({expr} AS DOUBLE)"


def _fold(a: str, b: str, term: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> {term}), "
        f"CAST(0 AS DOUBLE), (s, v) -> s + v)"
    )


# --- Spark SQL text ---------------------------------------------------------


def dot_sql(a: str, b: str) -> str:
    return _fold(a, b, f"{_d('x')} * {_d('y')}")


def sq_norm_sql(a: str) -> str:
    return dot_sql(a, a)


def sq_l2_sql(a: str, b: str) -> str:
    """Squared Euclidean distance; (x-y)*(x-y), not pow()."""
    return _fold(a, b, f"({_d('x')} - {_d('y')}) * ({_d('x')} - {_d('y')})")


def lit_array_sql(values) -> str:
    """A driver-side float sequence as ONE array<double> SQL literal.
    The element-wise ``F.array(*[F.lit(...)])`` form costs ~1 ms of
    driver time per literal (one py4j round-trip per element), which
    dominates query CONSTRUCTION for centroid/plane/component arrays.
    Values round-trip exactly: repr() emits the shortest digits that
    parse back to the same double, and CAST(string AS DOUBLE) is that
    parse."""
    items = ", ".join(f"CAST('{float(v)!r}' AS DOUBLE)" for v in values)
    return f"array({items})"


# --- Column wrappers --------------------------------------------------------


def lit_double_array(values) -> Column:
    return F.expr(lit_array_sql(values))


def dot(a: str, b: str) -> Column:
    return F.expr(dot_sql(a, b))


def sq_norm(a: str) -> Column:
    return F.expr(sq_norm_sql(a))


def sq_l2(a: str, b: str) -> Column:
    return F.expr(sq_l2_sql(a, b))


def l2_dist(a: str, b: str) -> Column:
    return F.sqrt(sq_l2(a, b))


def cosine_sim(a: str, b: str) -> Column:
    return dot(a, b) / (F.sqrt(sq_norm(a)) * F.sqrt(sq_norm(b)))


def l2_normalize(a: str) -> Column:
    """L2-normalized copy of the vector (array<double>)."""
    return F.expr(f"transform({a}, u -> {_d('u')} / sqrt({sq_norm_sql(a)}))")


# --- DuckDB oracle mirrors ---------------------------------------------------


def duck_dot(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, len({a})), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def duck_sq_norm(a: str) -> str:
    return duck_dot(a, a)


def duck_sq_l2(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, len({a})), "
        f"i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) "
        f"* (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))))"
    )


def duck_l2_dist(a: str, b: str) -> str:
    return f"sqrt({duck_sq_l2(a, b)})"


def duck_cosine_sim(a: str, b: str) -> str:
    return f"({duck_dot(a, b)} / (sqrt({duck_sq_norm(a)}) * sqrt({duck_sq_norm(b)})))"


def duck_l2_normalize(a: str) -> str:
    return (
        f"list_transform({a}, x -> CAST(x AS DOUBLE) / sqrt({duck_sq_norm(a)}))"
    )


# --- Python folds -------------------------------------------------------------


def fold_dot(a, b) -> float:
    s = 0.0
    for x, y in zip(a, b):
        s = s + float(x) * float(y)
    return s


def fold_sq_l2(a, b) -> float:
    s = 0.0
    for x, y in zip(a, b):
        d = float(x) - float(y)
        s = s + d * d
    return s


def columns(X) -> np.ndarray:
    """An (n, d) matrix as the (d, n) C-contiguous float64 copy that
    ``fold_sq_l2_columns`` reads one coordinate row at a time."""
    return np.ascontiguousarray(np.asarray(X, dtype=np.float64).T)


def fold_sq_l2_columns(XT: np.ndarray, c, out: np.ndarray | None = None) -> np.ndarray:
    """``fold_sq_l2(x, c)`` for every column x of XT = ``columns(X)``,
    bit for bit: s = ((0 + t1) + t2) + ... elementwise, with
    t = (x - c) * (x - c) per coordinate. `out` (length n) receives
    the sums."""
    c = np.asarray(c, dtype=np.float64)
    s = np.empty(XT.shape[1]) if out is None else out
    s.fill(0.0)
    t = np.empty_like(s)
    for j in range(len(XT)):
        np.subtract(XT[j], c[j], out=t)
        np.multiply(t, t, out=t)
        np.add(s, t, out=s)
    return s


def farthest_first_traversal(n: int, k: int, dist, start: int = 0):
    """Farthest-first (Gonzalez) traversal of n >= 1 points over any
    distance pass: `dist(i, out)` returns point i's distance to every
    point, and may reuse the length-n buffer `out` for it.

    chosen[0] = start; each next pick is the first argmax of the
    distance to the chosen set among the points not chosen yet (so a
    duplicate never beats a new point, and ties keep the LOWEST
    index). label[i] is the rank of i's nearest center; it moves to a
    new center only on a strictly smaller distance, so ties keep the
    earlier center.

    Returns (chosen, at_pick, min_dist, label): each pick's distance
    to the set when it was picked (0.0 for the start) and every
    point's distance to its nearest center, in the units `dist`
    returns."""
    k = min(k, n)
    chosen, at_pick = [start], [0.0]
    min_dist = dist(start, np.empty(n))
    label = np.zeros(n, dtype=np.int64)
    d, masked = np.empty(n), np.empty(n)
    for rank in range(1, k):
        np.copyto(masked, min_dist)
        masked[chosen] = -np.inf
        idx = int(np.argmax(masked))
        chosen.append(idx)
        at_pick.append(float(min_dist[idx]))
        d = dist(idx, d)
        label[d < min_dist] = rank
        np.minimum(min_dist, d, out=min_dist)
    return np.array(chosen), np.array(at_pick), min_dist, label


def farthest_first(X, k: int) -> tuple[list[int], list[float]]:
    """Farthest-first traversal of the rows of X with fold-exact
    squared distances: seed = index 0, then the first argmax of the
    min squared distance to the chosen set (the same pick as
    ORDER BY md DESC, pos ASC). Returns the chosen indices and each
    pick's squared distance at pick time (0.0 for the seed)."""
    X = np.asarray(X, dtype=np.float64)
    if min(k, len(X)) <= 0:
        return [], []
    XT = columns(X)
    chosen, d2, _, _ = farthest_first_traversal(
        len(X), k, lambda i, out: fold_sq_l2_columns(XT, X[i], out)
    )
    return chosen.tolist(), d2.tolist()


# --- The driver boundary ------------------------------------------------------


def matrix(vectors, keys: pd.Series) -> np.ndarray:
    """A vector column as an (n, d) float64 matrix (float32 -> float64
    is exact). `vectors` is a pandas Series of arrays (a pandas UDF
    batch) or an Arrow list column (a driver pull); an error names the
    first offending row's key. Each row must be a non-NULL array of one
    length with finite elements: a NaN or +-inf coordinate would win a
    farthest-first argmax and poison every distance, and both Arrow and
    pandas turn a NULL element into NaN."""

    def check(bad: np.ndarray, what: str) -> None:
        if bad.any():
            raise ValueError(f"{what} at {keys.name} {keys.iloc[int(np.argmax(bad))]}")

    series = isinstance(vectors, pd.Series)
    if series:
        null = vectors.isna().to_numpy()
        lengths = np.array([0 if z else len(v) for v, z in zip(vectors, null)])
    else:
        vectors = vectors.combine_chunks()
        null = vectors.is_null().to_numpy(zero_copy_only=False)
        lengths = vectors.value_lengths().fill_null(0).to_numpy(zero_copy_only=False)
    n, d = len(null), int(lengths[0]) if len(null) else 0
    check(null, "NULL vector")
    check(lengths != d, f"vector length is not {d}")
    if series:
        X = np.stack(vectors.to_numpy()) if n else np.empty((0, 0))
    else:
        X = vectors.flatten().to_numpy(zero_copy_only=False).reshape(n, d)
    X = X.astype(np.float64, copy=False)
    check(~np.isfinite(X).all(axis=1), "non-finite (NaN, inf or NULL) vector element")
    return X


def collect_sorted(df: DataFrame, key: str, vec_col: str, *cols: str):
    """Pull a vector column to the driver: one Arrow transfer of the
    `key`, `vec_col` and `cols` columns, ordered by `key` on the driver
    with a stable argsort. A Spark orderBy would range-partition first,
    and the range partitioner's sampling job re-executes the whole
    upstream plan; an orderBy(...).limit(m) that selects the rows plans
    as one TakeOrdered job and is fine to pull. Returns (keys, X,
    *cols) as numpy arrays; X is `matrix` of `vec_col`."""
    t = df.select(key, vec_col, *cols).toArrow()
    keys = t.column(key).to_numpy()
    X = matrix(t.column(vec_col), pd.Series(keys, name=key))
    order = np.argsort(keys, kind="stable")
    return (keys[order], X[order], *(t.column(c).to_numpy()[order] for c in cols))
