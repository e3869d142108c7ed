"""The fold-exact vector library: its Spark, DuckDB and Python forms
agree to the bit, and no engine module re-types the fold."""

from __future__ import annotations

import math
import re
import struct
from pathlib import Path

import duckdb
import numpy as np
import pyarrow as pa
import pytest

from diversity_maximization_spark.functions import vector as V

ENGINE = Path(__file__).resolve().parent.parent / "diversity_maximization_spark"


def _f32(xs):
    return [float(np.float32(x)) for x in xs]


def _rows():
    """(id, a, b) rows of float32-exact values. The dots of rows 0-2
    cancel catastrophically, so a summation order other than the
    strict left fold gives a different double; row 3 mixes magnitudes
    from 1e-7 to 1e30."""
    rng = np.random.default_rng(7)
    big = rng.choice([1e30, -1e30, 3e7, -3e7, 1.0, 1e-7], size=64)
    return [
        (0, _f32([1e30, 1.0, -1e30]), _f32([1.0, 1.0, 1.0])),
        (1, _f32([2.0**60, 1.0, -(2.0**60), 0.5]), _f32([1.0, 3.0, 1.0, 1.0])),
        (2, _f32([1e18, 3.0, -1e18]), _f32([1e18, 1.0, 1e18])),
        (3, _f32(big), _f32(big[::-1] * rng.uniform(0.5, 2.0, size=64))),
        (4, _f32([0.1]), _f32([-0.3])),
        (5, _f32([-3.5e-20]), _f32([2.0e19])),
        (6, _f32(rng.normal(size=64)), _f32(rng.normal(size=64))),
    ]


# driver-side literal operands (doubles, not float32-exact), per dim
_LITS = {
    1: [0.1],
    3: [1e30, 0.1, -1e30],
    4: [1.0 / 3.0, 2e16, -2e16, 0.7],
    64: [float(x) for x in np.random.default_rng(3).normal(scale=1e8, size=64)],
}


def _bits(x: float) -> bytes:
    return struct.pack("<d", x)


def _py(a, b):
    na, nb = V.fold_dot(a, a), V.fold_dot(b, b)
    d2 = V.fold_sq_l2(a, b)
    return {
        "dot": V.fold_dot(a, b),
        "sq_norm": na,
        "sq_l2": d2,
        "l2": math.sqrt(d2),
        "cos": V.fold_dot(a, b) / (math.sqrt(na) * math.sqrt(nb)),
    }


@pytest.fixture(scope="module")
def forms(spark):
    """{(id, name): (spark, duckdb, python)} over one small DataFrame
    and one DuckDB connection."""
    from pyspark.sql import functions as F

    rows = _rows()
    df = spark.createDataFrame(rows, "id int, a array<float>, b array<float>")
    lit_cols = [
        F.when(F.size("a") == d, V.dot("a", V.lit_array_sql(lit))).alias(f"dl{d}")
        for d, lit in _LITS.items()
    ] + [
        F.when(F.size("a") == d, V.sq_l2("a", V.lit_array_sql(lit))).alias(f"ql{d}")
        for d, lit in _LITS.items()
    ]
    got_spark = {
        r["id"]: r
        for r in df.select(
            "id",
            V.dot("a", "b").alias("dot"),
            V.sq_norm("a").alias("sq_norm"),
            V.sq_l2("a", "b").alias("sq_l2"),
            V.l2_dist("a", "b").alias("l2"),
            V.cosine_sim("a", "b").alias("cos"),
            *lit_cols,
        ).collect()
    }

    con = duckdb.connect()
    f32 = pa.list_(pa.float32())
    con.register(
        "vt",
        pa.table(
            {
                "id": pa.array([r[0] for r in rows], pa.int32()),
                "a": pa.array([r[1] for r in rows], f32),
                "b": pa.array([r[2] for r in rows], f32),
            }
        ),
    )

    def duck_lit(vals):
        return "([" + ", ".join(f"CAST('{v!r}' AS DOUBLE)" for v in vals) + "])"

    lit_sql = [
        f"CASE WHEN len(a) = {d} THEN {V.duck_dot('a', duck_lit(lit))} END AS dl{d}"
        for d, lit in _LITS.items()
    ] + [
        f"CASE WHEN len(a) = {d} THEN {V.duck_sq_l2('a', duck_lit(lit))} END AS ql{d}"
        for d, lit in _LITS.items()
    ]
    cur = con.execute(
        f"""SELECT id, {V.duck_dot('a', 'b')} AS dot,
                   {V.duck_sq_norm('a')} AS sq_norm,
                   {V.duck_sq_l2('a', 'b')} AS sq_l2,
                   {V.duck_l2_dist('a', 'b')} AS l2,
                   {V.duck_cosine_sim('a', 'b')} AS cos,
                   {', '.join(lit_sql)}
            FROM vt"""
    )
    names = [c[0] for c in cur.description]
    got_duck = {r[0]: dict(zip(names, r)) for r in cur.fetchall()}

    out = {}
    for i, a, b in rows:
        py = _py(a, b)
        lit = _LITS[len(a)]
        py[f"dl{len(a)}"] = V.fold_dot(a, lit)
        py[f"ql{len(a)}"] = V.fold_sq_l2(a, lit)
        for name, want in py.items():
            out[(i, name)] = (got_spark[i][name], got_duck[i][name], want)
    return out


def test_three_forms_bit_identical(forms):
    names = {n for _, n in forms}
    assert {"dot", "sq_norm", "sq_l2", "l2", "cos", "dl1", "ql64"} <= names
    bad = {
        key: vals
        for key, vals in forms.items()
        if len({_bits(float(v)) for v in vals}) != 1
    }
    assert not bad


def test_inputs_are_order_sensitive(forms):
    """The cancellation rows must actually separate a left fold from
    an exact sum, or the bit-identity check proves nothing."""
    for i, a, b in _rows()[:3]:
        assert forms[(i, "dot")][2] != math.fsum(x * y for x, y in zip(a, b))


def test_farthest_first_distances_at_pick_time():
    rng = np.random.default_rng(11)
    X = [list(map(float, r)) for r in rng.normal(size=(40, 5))]
    X[7] = list(X[3])  # a duplicate is never picked over a new point
    chosen, d2 = V.farthest_first(X, 12)
    assert chosen[0] == 0 and d2[0] == 0.0
    assert len(set(chosen)) == 12
    for j in range(1, 12):
        md = [min(V.fold_sq_l2(x, X[c]) for c in chosen[:j]) for x in X]
        best = max(md[i] for i in range(len(X)) if i not in chosen[:j])
        assert d2[j] == best
        assert chosen[j] == min(
            i for i in range(len(X)) if i not in chosen[:j] and md[i] == best
        )
    assert d2[1:] == sorted(d2[1:], reverse=True)
    assert sorted(V.farthest_first(X[:3], 10)[0]) == [0, 1, 2]


# --- one copy of the fold ----------------------------------------------------

_FOLD_PATTERNS = (
    "aggregate(zip_with(",
    "F.zip_with(",
    "list_sum(list_transform(generate_series(1, len(",
)

# module (relative to the package) -> why it may contain a pattern
_ALLOWED = {
    "functions/vector.py": "the library itself",
    "llm/bpe.py": "zip_with pairs adjacent token ids; no vector math",
}


def _joined_source(path: Path) -> str:
    """Source with implicitly concatenated string literals joined, so
    a pattern split across two literals still matches."""
    text = path.read_text()
    return re.sub(r"""["']\s*\n\s*[rf]*["']""", "", text)


def test_fold_lives_in_one_module():
    hits = []
    for path in sorted(ENGINE.rglob("*.py")):
        rel = path.relative_to(ENGINE).as_posix()
        if rel in _ALLOWED:
            continue
        src = _joined_source(path)
        hits += [f"{rel}: {p}" for p in _FOLD_PATTERNS if p in src]
    assert not hits, "use diversity_maximization_spark.functions.vector"


def test_guard_allowlist_is_live():
    for rel in _ALLOWED:
        src = _joined_source(ENGINE / rel)
        assert any(p in src for p in _FOLD_PATTERNS), rel
