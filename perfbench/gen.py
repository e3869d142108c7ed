"""Seeded input generators and reference answers for the benchmark.

Everything here runs outside Spark (numpy + pyarrow) and depends only
on the seed and the size, so the same seed gives byte-identical
inputs. Generated files are cached per (kind, seed, size) under the
benchmark's work directory and are never committed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MIX_DIM = 32
MIX_CLUSTERS = 100
MIX_SUBSPACE = 4  # each cluster spreads in a 4-d subspace: bounded doubling dimension
MIX_ROW_GROUPS = 8


def mixture_points(seed: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    """(X float32 [n, 32], label int32 [n]): 100 Gaussian clusters in
    32-d. Each cluster is a 4-d Gaussian in its own random subspace,
    so the set has a small doubling dimension (the paper's assumption)
    while the ambient dimension stays 32. The cluster geometry is fixed;
    ``seed`` draws the points."""
    rng = np.random.default_rng([0, 1])
    centers = rng.uniform(-10.0, 10.0, (MIX_CLUSTERS, MIX_DIM))
    bases = np.linalg.qr(rng.standard_normal((MIX_CLUSTERS, MIX_DIM, MIX_SUBSPACE)))[0]
    scale = rng.uniform(0.5, 1.5, MIX_CLUSTERS)
    rng = np.random.default_rng([seed, 2])
    label = rng.integers(0, MIX_CLUSTERS, n).astype(np.int32)
    z = rng.standard_normal((n, MIX_SUBSPACE)) * scale[label, None]
    X = centers[label] + np.einsum("nds,ns->nd", bases[label], z)
    return X.astype(np.float32), label


def write_mixture(root: str, seed: int, n: int) -> str:
    """Write the mixture as ``<dir>/embeddings.parquet`` (the engine's
    fixture name and schema: vec_id, embedding array<float>, label) in
    several row groups; returns ``<dir>``."""
    out = os.path.join(root, f"mixture_s{seed}_n{n}")
    path = os.path.join(out, "embeddings.parquet")
    if not os.path.exists(path):
        X, label = mixture_points(seed, n)
        table = pa.table(
            {
                "vec_id": pa.array(np.arange(n, dtype=np.int64)),
                "embedding": pa.FixedSizeListArray.from_arrays(
                    pa.array(X.reshape(-1)), MIX_DIM
                ).cast(pa.list_(pa.float32())),
                "label": pa.array(label),
            }
        )
        _atomic_write(table, path, row_group_size=max(1, n // MIX_ROW_GROUPS))
    return out


def read_points(sf_dir: str) -> np.ndarray:
    """The embeddings of ``sf_dir`` as float64 rows in vec_id order,
    read with pyarrow (no Spark)."""
    t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id", "embedding"])
    ids = t.column("vec_id").to_numpy()
    flat = t.column("embedding").combine_chunks().flatten().to_numpy()
    X = flat.reshape(len(ids), -1).astype(np.float64)
    order = np.argsort(ids, kind="stable")
    if not np.array_equal(ids[order], np.arange(len(ids))):
        raise ValueError("vec_id must be 0..n-1")
    return X[order]


def gmm_reference(X: np.ndarray, k: int) -> dict:
    """Sequential GMM (farthest-first from vec_id 0) over every point:
    the denominator of edge_ratio and clique_ratio."""
    from diversity_maximization_spark.diversity import kernel as K

    chosen, _, _ = K.farthest_first(X, k, start=0)
    return objectives(X[chosen])


def objectives(P: np.ndarray) -> dict:
    """Remote-edge and remote-clique of a point set (numpy kernel)."""
    from diversity_maximization_spark.diversity import kernel as K

    if len(P) < 2:
        return {"edge": 0.0, "clique": 0.0, "k": len(P)}
    D = K.pairwise_l2(P)
    return {"edge": K.eval_edge(D), "clique": K.eval_clique(D), "k": len(P)}


# --- sf0.1-shaped fixture tables for the query mix -------------------

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_WORDS_A = ["blue", "hot", "large", "small", "red", "green", "old", "new"]
P_WORDS_B = ["anvil", "bolt", "ring", "widget", "gear", "nut", "pipe", "valve"]
VOCAB = (
    "a the agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "value vector window"
).split()

SF_ROWS = {  # sf0.1 sizes (region and nation are fixed at 5 and 25)
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
EMB_DIM = 64


def _pick(rng, values, n) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)].tolist())


def _days(rng, lo: str, hi: str, n: int) -> pa.Array:
    lo_d = np.datetime64(lo, "D")
    span = int((np.datetime64(hi, "D") - lo_d).astype(int))
    d = lo_d + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def sf_rows(scale: float = 1.0) -> dict[str, int]:
    """Rows per generated table at ``scale`` times sf0.1 (at least 50)."""
    return {name: max(50, int(n * scale)) for name, n in SF_ROWS.items()}


def sf_tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    """The ten fixture tables at ``scale`` times sf0.1 size, with the
    declared schemas of ``sources.tables.TABLES`` and value domains
    like the shipped fixtures (uniform keys, TPC-H-style categorical
    columns)."""
    rng = np.random.default_rng([seed, 2])
    R = sf_rows(scale)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }
    )
    n = R["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": _pick(rng, SEGMENTS, n),
        }
    )
    n = R["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }
    )
    n = R["part"]
    keys = np.arange(n, dtype=np.int64)
    a, b = rng.integers(0, len(P_WORDS_A), n), rng.integers(0, len(P_WORDS_B), n)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(keys),
            "p_name": [f"{P_WORDS_A[i]} {P_WORDS_B[j]}" for i, j in zip(a, b)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
            "p_type": _pick(rng, P_TYPES, n),
            "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
        }
    )
    n = R["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, R["customer"], n)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n),
            "o_orderpriority": _pick(rng, PRIORITIES, n),
        }
    )
    n = R["lineitem"]
    qty = rng.integers(1, 51, n).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, R["orders"], n)),
            "l_partkey": pa.array(rng.integers(0, R["part"], n)),
            "l_suppkey": pa.array(rng.integers(0, R["supplier"], n)),
            "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n),
        }
    )
    n = R["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(start + offs.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, 1500, n)),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.round(rng.exponential(60.0, n), 2),
            "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n)],
        }
    )
    n = R["documents"]
    lens = rng.integers(10, 100, n)  # 44-577 characters, like the shipped fixture
    words = np.asarray(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    cuts = np.concatenate([[0], np.cumsum(lens)])
    docs = [list(words[cuts[i] : cuts[i + 1]]) for i in range(n)]
    # 1% exact and 3% one-word-edited copies of earlier documents, so
    # the exact and near-duplicate detectors have work to find
    for i in rng.choice(np.arange(1, n), n // 25, replace=False):
        j = int(rng.integers(0, i))
        docs[i] = list(docs[j])
        if rng.random() < 0.75:
            docs[i][int(rng.integers(0, len(docs[i])))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
    text = [" ".join(d) for d in docs]
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": text,
            "lang": pa.array(
                np.asarray(LANGS, dtype=object)[
                    rng.choice(len(LANGS), n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
                ].tolist()
            ),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array(np.array([len(s) for s in text], dtype=np.int64)),
        }
    )
    n = R["embeddings"]
    E = rng.standard_normal((n, EMB_DIM))
    E /= np.linalg.norm(E, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(E.astype(np.float32).reshape(-1)), EMB_DIM
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )
    return t


def write_sf(root: str, seed: int, scale: float = 1.0) -> str:
    """Write the sf0.1-shaped tables as ``<dir>/<table>.parquet``;
    returns ``<dir>``."""
    out = os.path.join(root, f"sf_s{seed}_x{scale:g}")
    done = os.path.join(out, "_SUCCESS")
    if not os.path.exists(done):
        for name, table in sf_tables(seed, scale).items():
            _atomic_write(table, os.path.join(out, f"{name}.parquet"))
        open(done, "w").close()
    return out


def _atomic_write(table: pa.Table, path: str, row_group_size: int | None = None) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=row_group_size)
    os.replace(tmp, path)
