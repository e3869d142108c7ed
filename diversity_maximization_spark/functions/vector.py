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
  summation would drift in the last ulp).

Anything derived (sqrt, cosine, normalization) is applied to a fold
result in the same expression order in every form. A driver-side
vector enters Spark as ONE parsed literal (``lit_array_sql``), so a
distance to it parses once through ``F.expr``.

At 100 TB scale these expressions vectorize per-row with no Python
boundary; the O(n^2) *pairing* cost is handled separately by the LSH /
bucketing rewrites in plans/distance_join.py, not here.
"""

from __future__ import annotations

from pyspark.sql import Column
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


def farthest_first(X: list, k: int) -> tuple[list[int], list[float]]:
    """Farthest-first traversal with fold-exact squared distances:
    seed = index 0, then the argmax of the min squared distance to the
    chosen set (strict >, so ties keep the LOWEST index — the same
    pick as ORDER BY md DESC, pos ASC). Returns the chosen indices and
    each pick's squared distance at pick time (0.0 for the seed)."""
    n = len(X)
    k = min(k, n)
    if k <= 0:
        return [], []
    chosen, d2 = [0], [0.0]
    in_chosen = {0}
    md = [fold_sq_l2(x, X[0]) for x in X]
    for _ in range(1, k):
        best, bi = -1.0, -1
        for i in range(n):
            if i not in in_chosen and md[i] > best:
                best, bi = md[i], i
        chosen.append(bi)
        d2.append(best)
        in_chosen.add(bi)
        cx = X[bi]
        for i in range(n):
            d = fold_sq_l2(X[i], cx)
            if d < md[i]:
                md[i] = d
    return chosen, d2
