"""Distance-join planning: how pairwise-distance queries scale
(SURVEY.md §4.3 — a logical rewrite layer in Python, NOT a Catalyst
rule).

Three physical strategies for "pairs of vectors with cosine/L2
relation", chosen by corpus size:

1. ``theta`` — naive O(n^2) non-equi self-join scoring every pair
   with the JVM fold expression. Exact, oracle-identical, fine for
   tiny n (diversity evaluators on candidate sets of ~tens).
2. ``broadcast_blas`` — corpus matrix broadcast once; each task
   computes its query-block x corpus similarity with BLAS inside
   ``mapInPandas`` and emits only surviving candidate pairs, which
   are re-scored with the oracle-identical fold. Exact (the BLAS pass
   only PRUNES, with an eps/margin absorbing summation-order
   differences). Works while the corpus fits an executor
   (~10^7 x 64-d float64 = 5 GB); beyond that, chunk the corpus and
   merge running top-k per chunk.
3. ``lsh_bucketed`` — no broadcast at all: signed-random-projection
   (SimHash) band signatures as equi-join keys, so candidate
   generation is an ordinary shuffle hash join that Catalyst/AQE
   plans like any other; survivors are re-scored exactly. This is the
   100 TB path — data never leaves the cluster, pair count is
   bucket-local, and skewed buckets are split by AQE. Approximate:
   recall controlled by (n_planes, bands); tests assert recall
   against the exact result at test scale.

The reference's pairwise substrate (distances between all points,
SURVEY.md §2.1) hand-rolls none of this — it only ever evaluates
distances point-at-a-time inside its kernels; these strategies are
what makes the same semantics survive Spark scale.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import vector as V

# Corpus sizes (rows x dim x 8 bytes) up to ~2 GB use broadcast_blas.
BROADCAST_BLAS_MAX_BYTES = 2 << 30

# Per-task scratch cap for the BLAS tiers: the query-block x corpus
# similarity/distance matrix is limited to ~64 MB of doubles
# (8M cells). Without this, an Arrow batch of 10k rows against a
# 20k-row corpus allocates 1.6 GB PER TASK (x32 concurrent tasks =
# executor OOM/GC collapse) — measured as a >2 scaling slope in the
# round-6 scale ladder before the cap. Each block is independent
# per query row, so the cut changes nothing but peak memory.
_BLAS_BLOCK_CELLS = 8 << 20


def _query_block_rows(n_corpus: int) -> int:
    return max(16, _BLAS_BLOCK_CELLS // max(n_corpus, 1))


def _blocked(it, n_corpus: int):
    """Re-chunk Arrow batches so each query block's corpus matrix
    stays under _BLAS_BLOCK_CELLS doubles (rows are independent, so
    this changes peak memory only)."""
    blk = _query_block_rows(n_corpus)
    for pdf in it:
        for s in range(0, len(pdf), blk):
            sub = pdf.iloc[s : s + blk]
            if len(sub):
                yield sub


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition a NARROW input up to the cluster's default
    parallelism when its scan has fewer partitions (round-6 ladder
    finding, same as llm/dedup.shingles_df): a small parquet file
    scans as 1-2 partitions and mapInPandas never re-splits, so the
    per-row-heavy BLAS/signature passes inherit 1-2-way parallelism.
    A no-op on real large scans, which already carry many splits."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


# Below this, the O(n^2) theta join is cheaper than a BLAS prefilter
# pass (candidate sets from coresets/evaluators are tens of rows).
THETA_MAX_ROWS = 128


def choose_strategy(n_rows: int, dim: int) -> str:
    """Pick the physical strategy for an n_rows self distance join."""
    if n_rows <= THETA_MAX_ROWS:
        return "theta"
    if n_rows * dim * 8 <= BROADCAST_BLAS_MAX_BYTES:
        return "broadcast_blas"
    return "lsh_bucketed"


def corpus_stats(e: DataFrame) -> tuple[int, int]:
    """(n_rows, dim): a column-pruned count job plus a single-row dim
    probe — no data reaches the driver (this is what gates whether a
    collect is even allowed), and neither job reads the full vector
    column."""
    n = e.count()
    row = e.select(F.size("embedding").alias("d")).first()
    return n, int(row["d"]) if row is not None else 0


def topk_candidate_pairs(
    spark: SparkSession,
    e: DataFrame,
    n_cand: int,
    strategy: str | None = None,
    dim: int | None = None,
    k_exact: int | None = None,
) -> DataFrame:
    """(vec_id, neighbor) candidate pairs for top-k search, physical
    strategy chosen by corpus size (choose_strategy) unless forced.

    theta / broadcast_blas are exact candidate generators; lsh_bucketed
    (the beyond-2GB path) is recall-bounded — downstream re-scoring is
    identical in all three, so the plan degrades gracefully from exact
    to approximate exactly when a driver collect would OOM."""
    if strategy is None:
        if dim is None:
            _, dim = corpus_stats(e)
        # declared dim skips the probe job: gating then costs ONE
        # column-pruned count
        strategy = choose_strategy(e.count(), dim)
    if strategy == "theta":
        a = e.select(F.col("vec_id"))
        b = e.select(F.col("vec_id").alias("neighbor"))
        return a.crossJoin(b).filter(F.col("vec_id") != F.col("neighbor"))
    if strategy == "broadcast_blas":
        return blas_topk_candidates(spark, e, n_cand, k_exact=k_exact)
    if dim is None:
        _, dim = corpus_stats(e)
    pairs = lsh_candidate_pairs(e, dim)
    # symmetrize: top-k needs candidates in both directions
    return pairs.select(
        F.col("vec_a").alias("vec_id"), F.col("vec_b").alias("neighbor")
    ).unionAll(
        pairs.select(
            F.col("vec_b").alias("vec_id"), F.col("vec_a").alias("neighbor")
        )
    )


def threshold_candidate_pairs(
    spark: SparkSession,
    e: DataFrame,
    thresh: float,
    strategy: str | None = None,
    dim: int | None = None,
) -> DataFrame:
    """(vec_a < vec_b) candidate pairs for a cosine-threshold join,
    strategy chosen by corpus size unless forced (see
    topk_candidate_pairs for the exact/approximate trade)."""
    if strategy is None:
        if dim is None:
            _, dim = corpus_stats(e)
        strategy = choose_strategy(e.count(), dim)
    if strategy == "theta":
        a = e.select(F.col("vec_id").alias("vec_a"))
        b = e.select(F.col("vec_id").alias("vec_b"))
        return a.crossJoin(b).filter(F.col("vec_a") < F.col("vec_b"))
    if strategy == "broadcast_blas":
        return blas_threshold_pairs(spark, e, thresh)
    if dim is None:
        _, dim = corpus_stats(e)
    return lsh_candidate_pairs(e, dim)


# --- strategy 2: broadcast corpus + BLAS pruning ---------------------------


def _broadcast_corpus(spark: SparkSession, e: DataFrame):
    rows = e.select("vec_id", "embedding").collect()
    ids = np.fromiter((r["vec_id"] for r in rows), dtype=np.int64)
    B = np.array([r["embedding"] for r in rows], dtype=np.float64)
    Bn = B / np.linalg.norm(B, axis=1, keepdims=True)
    return spark.sparkContext.broadcast((ids, Bn))


def blas_topk_candidates(
    spark: SparkSession,
    e: DataFrame,
    n_cand: int,
    k_exact: int | None = None,
    eps: float = 1e-9,
) -> DataFrame:
    """(vec_id, neighbor) pairs: top n_cand cosine neighbors per query
    by BLAS matmul against the broadcast corpus matrix.

    When ``k_exact`` is given the cut is TIE-AWARE: in addition to the
    stable top-n_cand cut, every candidate whose BLAS score is within
    ``eps`` of the k_exact-th best is kept, so a candidate that ties
    the exact-fold rank-k boundary can never be pruned by the fixed
    margin even when >(n_cand - k_exact) bit-equal duplicates crowd
    the boundary (BLAS vs fold summation-order noise is ~1e-14 << eps;
    the exact re-score downstream does all ranking, so the superset
    only costs a few extra re-scored rows)."""
    bc = _broadcast_corpus(spark, e)

    def gen(it):
        import pandas as pd

        cids, corpus = bc.value
        pos = {int(v): i for i, v in enumerate(cids)}
        for pdf in _blocked(it, len(cids)):
            A = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            An = A / np.linalg.norm(A, axis=1, keepdims=True)
            S = An @ corpus.T
            qids = pdf["vec_id"].to_numpy()
            out_q, out_n = [], []
            for r, qid in enumerate(qids):
                s = S[r]
                self_pos = pos.get(int(qid))
                if self_pos is not None:
                    s = s.copy()
                    s[self_pos] = -np.inf
                m = min(n_cand, len(s) - (self_pos is not None))
                # Stable cut: argpartition alone keeps an ARBITRARY
                # subset of equal-sim candidates at the boundary
                # (duplicated embeddings make bit-equal sims real);
                # the exact re-score ranks ties by neighbor id ASC, so
                # the cut must too — resolve only the boundary tie
                # group by cid ASC (O(n), same fix as the L2 variant).
                part = np.argpartition(-s, m - 1)[:m]
                thr = s[part].min()
                strict = np.flatnonzero(s > thr)
                ties = np.flatnonzero(s == thr)
                need = m - len(strict)
                keep = ties[np.argsort(cids[ties], kind="stable")[:need]]
                top = np.concatenate([strict, keep])
                if k_exact is not None and m >= 1:
                    # tie-aware margin: keep EVERYTHING within eps of
                    # the k-th best BLAS score so the exact-fold
                    # boundary winner can't be crowded out by
                    # >(n_cand-k) bit-equal duplicates
                    kk = min(k_exact, m)
                    kth = -np.partition(-s, kk - 1)[kk - 1]
                    near = np.flatnonzero(s >= kth - eps)
                    top = np.union1d(top, near)
                out_q.append(np.full(len(top), qid, dtype=np.int64))
                out_n.append(cids[top])
            yield pd.DataFrame(
                {"vec_id": np.concatenate(out_q), "neighbor": np.concatenate(out_n)}
            )

    return ensure_parallelism(
        e.select("vec_id", "embedding")
    ).mapInPandas(
        gen, "vec_id bigint, neighbor bigint"
    )


def blas_threshold_pairs(
    spark: SparkSession, e: DataFrame, thresh: float, eps: float = 1e-9
) -> DataFrame:
    """(vec_a < vec_b) pairs with BLAS cosine > thresh - eps."""
    bc = _broadcast_corpus(spark, e)

    def gen(it):
        import pandas as pd

        cids, corpus = bc.value
        for pdf in _blocked(it, len(cids)):
            A = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            An = A / np.linalg.norm(A, axis=1, keepdims=True)
            S = An @ corpus.T
            qids = pdf["vec_id"].to_numpy()
            mask = (S > thresh - eps) & (qids[:, None] < cids[None, :])
            qi, ci = np.nonzero(mask)
            yield pd.DataFrame({"vec_a": qids[qi], "vec_b": cids[ci]})

    return ensure_parallelism(
        e.select("vec_id", "embedding")
    ).mapInPandas(
        gen, "vec_a bigint, vec_b bigint"
    )


# --- strategy 3: LSH-bucketed equi-join (the no-broadcast scale path) ------


def adaptive_band_bits(n_rows: int, target_bucket: int = 64) -> int:
    """Bits per SimHash band so the EXPECTED bucket size stays
    ~target_bucket regardless of corpus size. A FIXED band width does
    not scale: 4-bit bands mean 16 buckets per band forever, so
    bucket size grows linearly with n and the band self-join
    quadratically — measured in the round-6 scale ladder as a 2.25
    slope (242 s at 20k rows) on the forced-LSH probe. With bits =
    log2(n / target_bucket) the per-band pair count is ~n *
    target_bucket / 2 — linear in n. The trade: each extra bit
    lowers per-band recall for low-similarity pairs, so the band
    COUNT (not width) is the recall knob at scale."""
    import math

    return max(4, math.ceil(math.log2(max(n_rows, 2) / target_bucket)))


def simhash_bands(
    e: DataFrame,
    dim: int,
    n_planes: int = 32,
    bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """(vec_id, band_id, sig) band-signature rows: sign pattern of
    `n_planes` seeded random projections split into `bands` bands. Two
    vectors collide in a band iff all its plane signs agree —
    P[collision] rises steeply with cosine similarity (SimHash).

    Computed as one vectorized BLAS pass inside ``mapInPandas``: the
    plane matrix is tiny (n_planes x dim) and ships in the task
    closure; work is linear per row with no shuffle and no broadcast
    of data. (A pure-SQL unrolled projection works but costs seconds
    of codegen on a 2048-term expression tree — the Arrow-batched
    numpy pass is the idiomatic vectorized path.)"""
    rng = np.random.RandomState(seed)
    planes = rng.standard_normal((n_planes, dim))
    per = n_planes // bands

    def gen(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            bits = (X @ planes.T >= 0).astype(np.uint8)  # (m, n_planes)
            ids = pdf["vec_id"].to_numpy()
            out_id, out_band, out_sig = [], [], []
            weights = 1 << np.arange(per, dtype=np.int64)
            for b in range(bands):
                block = bits[:, b * per : (b + 1) * per]
                sig = block @ weights  # int key per (row, band)
                out_id.append(ids)
                out_band.append(np.full(len(ids), b, dtype=np.int32))
                out_sig.append(sig)
            yield pd.DataFrame(
                {
                    "vec_id": np.concatenate(out_id),
                    "band_id": np.concatenate(out_band),
                    "sig": np.concatenate(out_sig),
                }
            )

    return ensure_parallelism(
        e.select("vec_id", "embedding")
    ).mapInPandas(
        gen, "vec_id bigint, band_id int, sig bigint"
    )


def portable_planes(n_planes: int = 32, dim: int = 64) -> list[list[float]]:
    """Deterministic Rademacher (+-1) hyperplane family derived from
    md5 — the PORTABLE SimHash tier. Sign-random-projection needs only
    a symmetric coordinate distribution, so +-1 entries are as valid
    as gaussians (Achlioptas-style sparse/signed projections, public
    result) and make the projection EXACTLY replayable: plane values
    are embedded as literals in both engines (the Python-literal
    recipe), and the projection is a strict left fold both sides —
    no BLAS summation-order gap, no sign flips at proj ~ 0."""
    import hashlib

    return [
        [
            1.0
            if hashlib.md5(f"plane|{p}|{d}".encode()).digest()[0] % 2
            else -1.0
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def portable_simhash_bands(
    e: DataFrame,
    dim: int,
    n_planes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """(vec_id, band_id, sig) band signatures from the portable
    Rademacher planes, computed entirely JVM-side: each projection is
    the fold-exact dot with the plane (functions/vector),
    bit-identical to DuckDB's list_sum replay (duck_simhash_sigs), so
    the banded candidate set is hash-checkable. Same output contract
    as simhash_bands (the numpy/gaussian production tier kept for the
    dispatch path, where exact replay isn't required)."""
    planes = portable_planes(n_planes, dim)
    per = n_planes // bands

    # The whole banded-signature expression is built as ONE SQL string
    # and parsed once: the previous Column-combinator construction
    # issued a py4j call per plane literal (n_planes x dim = 2048
    # F.lit round-trips plus fold combinators), ~3-4 s of pure driver
    # time per query construction at sf-any (guide §5: driver work).
    # The expression tree Catalyst sees is semantically identical —
    # same strict left fold, same +-1.0D plane literals, same
    # CASE/bit-weight sig assembly — so signatures are bit-identical
    # and match the DuckDB replay (duck_simhash_sigs).
    def proj_sql(p: int) -> str:
        plane = "array(" + ", ".join(
            ("1.0D" if v > 0 else "-1.0D") for v in planes[p]
        ) + ")"
        return V.dot_sql("embedding", plane)

    def sig_sql(b: int) -> str:
        terms = " + ".join(
            f"(CASE WHEN ({proj_sql(b * per + r)}) >= 0 "
            f"THEN {1 << r} ELSE 0 END)"
            for r in range(per)
        )
        return f"CAST(0 + {terms} AS BIGINT)"

    bb = F.expr(
        "array("
        + ", ".join(
            f"named_struct('band_id', {b}, 'sig', {sig_sql(b)})"
            for b in range(bands)
        )
        + ")"
    )
    return e.select("vec_id", F.explode(bb).alias("bb")).select(
        "vec_id",
        F.col("bb.band_id").alias("band_id"),
        F.col("bb.sig").alias("sig"),
    )


def duck_simhash_sigs(
    emb_expr: str = "embedding",
    n_planes: int = 32,
    bands: int = 8,
    dim: int = 64,
) -> str:
    """DuckDB scalar expressions replaying portable_simhash_bands'
    band signatures bit-for-bit: same plane literals, same left-fold
    projection (list_sum over an index-ordered list_transform), same
    bit packing. Returns a SELECT-list fragment 'sig0, sig1, ...'."""
    planes = portable_planes(n_planes, dim)
    per = n_planes // bands

    def proj(p: int) -> str:
        lits = ", ".join(f"CAST({v!r} AS DOUBLE)" for v in planes[p])
        return V.duck_dot(emb_expr, f"([{lits}])")

    sigs = []
    for b in range(bands):
        bits = " + ".join(
            f"(CASE WHEN {proj(b * per + r)} >= 0 THEN {1 << r} ELSE 0 END)"
            for r in range(per)
        )
        sigs.append(f"CAST({bits} AS BIGINT) AS sig{b}")
    return ", ".join(sigs)


def portable_lsh_candidate_pairs(
    e: DataFrame,
    dim: int,
    n_planes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """Distinct (vec_a < vec_b) pairs colliding in >= 1 portable band
    — same no-broadcast shuffle equi-join shape as
    lsh_candidate_pairs, hash-checkable end to end."""
    # Lazy localCheckpoint: see lsh_candidate_pairs — the 32-fold
    # JVM projection otherwise executes once per self-join side
    # (measured at sf0.01, min of 3 warm reps: 0.73 -> 0.36 s).
    sig = portable_simhash_bands(e, dim, n_planes, bands).localCheckpoint(
        eager=False
    )
    a = sig.select(F.col("vec_id").alias("vec_a"), "band_id", "sig")
    b = sig.select(F.col("vec_id").alias("vec_b"), "band_id", "sig")
    return (
        a.join(b, ["band_id", "sig"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )


def lsh_candidate_pairs(
    e: DataFrame,
    dim: int,
    n_planes: int | None = None,
    bands: int = 8,
    seed: int = 42,
    n_rows: int | None = None,
) -> DataFrame:
    """Distinct (vec_a < vec_b) pairs colliding in >= 1 band — a
    single ordinary shuffle hash join of the (band_id, sig) rows
    against themselves, which AQE sizes/skew-splits like any other
    join. No broadcast anywhere: this is the 100 TB shape.

    Band width ADAPTS to corpus size (adaptive_band_bits) so bucket
    sizes — and with them the candidate-pair count — stay bounded
    per row at any n; pass n_planes explicitly to pin a fixed
    family instead."""
    if n_planes is None:
        if n_rows is None:
            n_rows = e.count()
        n_planes = bands * adaptive_band_bits(n_rows)
    # Lazy localCheckpoint: both self-join sides descend from the
    # signature table and their exchanges do not canonicalize to one,
    # so the (Python/numpy) projection pass would run twice per action
    # (guide §5; same fix as dedup_phash, measured ~2x there).
    sig = simhash_bands(e, dim, n_planes, bands, seed).localCheckpoint(
        eager=False
    )
    a = sig.select(F.col("vec_id").alias("vec_a"), "band_id", "sig")
    b = sig.select(F.col("vec_id").alias("vec_b"), "band_id", "sig")
    return (
        a.join(b, ["band_id", "sig"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )


# --- L2 variants (the theta-join / evaluator substrate) --------------------


def _broadcast_corpus_raw(spark: SparkSession, e: DataFrame):
    rows = e.select("vec_id", "embedding").collect()
    ids = np.fromiter((r["vec_id"] for r in rows), dtype=np.int64)
    B = np.array([r["embedding"] for r in rows], dtype=np.float64)
    return spark.sparkContext.broadcast((ids, B, (B * B).sum(axis=1)))


def blas_l2_threshold_pairs(
    spark: SparkSession, e: DataFrame, tau: float, eps: float = 1e-6
) -> DataFrame:
    """(vec_a < vec_b) pairs with BLAS L2 distance < tau + eps —
    prune-only: the eps margin absorbs the |a|^2+|b|^2-2ab expansion's
    summation-order difference vs the sequential fold, and survivors
    are re-scored exactly by the caller."""
    bc = _broadcast_corpus_raw(spark, e)
    t2 = (tau + eps) * (tau + eps)

    def gen(it):
        import pandas as pd

        cids, B, b2 = bc.value
        for pdf in _blocked(it, len(cids)):
            A = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            a2 = (A * A).sum(axis=1)
            D2 = a2[:, None] + b2[None, :] - 2.0 * (A @ B.T)
            qids = pdf["vec_id"].to_numpy()
            mask = (D2 < t2) & (qids[:, None] < cids[None, :])
            qi, ci = np.nonzero(mask)
            yield pd.DataFrame({"vec_a": qids[qi], "vec_b": cids[ci]})

    return ensure_parallelism(
        e.select("vec_id", "embedding")
    ).mapInPandas(
        gen, "vec_a bigint, vec_b bigint"
    )


def l2_threshold_candidate_pairs(
    spark: SparkSession,
    e: DataFrame,
    tau: float,
    strategy: str | None = None,
    dim: int | None = None,
) -> DataFrame:
    """(vec_a < vec_b) candidate pairs for an L2-threshold join, same
    size dispatch as the cosine form: tiny -> plain cross candidates,
    broadcastable -> BLAS distance prune, beyond -> LSH buckets
    (recall-bounded, the no-broadcast scale path)."""
    if strategy is None:
        if dim is None:
            _, dim = corpus_stats(e)
        strategy = choose_strategy(e.count(), dim)
    if strategy == "theta":
        a = e.select(F.col("vec_id").alias("vec_a"))
        b = e.select(F.col("vec_id").alias("vec_b"))
        return a.crossJoin(b).filter(F.col("vec_a") < F.col("vec_b"))
    if strategy == "broadcast_blas":
        return blas_l2_threshold_pairs(spark, e, tau)
    if dim is None:
        _, dim = corpus_stats(e)
    return lsh_candidate_pairs(e, dim)


def blas_l2_topk_candidates(
    spark: SparkSession,
    e: DataFrame,
    n_cand: int,
    k_exact: int | None = None,
    eps: float = 1e-9,
) -> DataFrame:
    """(vec_id, neighbor) pairs: the n_cand nearest OTHER points per
    query by BLAS L2 against the broadcast corpus — prune-only: the
    candidate margin (n_cand >> the caller's k) absorbs the
    |a|^2+|b|^2-2ab expansion's last-ulp ordering differences vs the
    sequential fold; the caller re-scores survivors with the exact
    bit-matched distance and applies its own tie-break. ``k_exact``
    additionally keeps every candidate within ``eps`` (relative to
    magnitude ~1) of the k-th smallest distance — the tie-aware cut
    (see blas_topk_candidates)."""
    bc = _broadcast_corpus_raw(spark, e)

    def gen(it):
        import pandas as pd

        cids, B, b2 = bc.value
        pos = {int(v): i for i, v in enumerate(cids)}
        for pdf in _blocked(it, len(cids)):
            A = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            a2 = (A * A).sum(axis=1)
            D2 = a2[:, None] + b2[None, :] - 2.0 * (A @ B.T)
            qids = pdf["vec_id"].to_numpy()
            out_q, out_n = [], []
            for r, qid in enumerate(qids):
                d = D2[r]
                self_pos = pos.get(int(qid))
                if self_pos is not None:
                    d = d.copy()
                    d[self_pos] = np.inf
                m = min(n_cand, len(d) - (self_pos is not None))
                # argpartition alone keeps an ARBITRARY subset of
                # equal-distance candidates at the cut boundary; the
                # downstream exact ranking (and the all-pairs oracle)
                # breaks distance ties by neighbor id ASC, so the cut
                # must too (same discipline as the IVF _score lexsort,
                # llm/simsearch.py). O(n) exact: partition, then
                # resolve only the boundary tie group by cid ASC.
                # thr is always finite: the single inf (self) can't be
                # among the m smallest because m <= #finite entries.
                part = np.argpartition(d, m - 1)[:m]
                thr = d[part].max()
                strict = np.flatnonzero(d < thr)
                ties = np.flatnonzero(d == thr)
                need = m - len(strict)
                keep = ties[np.argsort(cids[ties], kind="stable")[:need]]
                top = np.concatenate([strict, keep])
                if k_exact is not None and m >= 1:
                    # tie-aware margin (see blas_topk_candidates)
                    kk = min(k_exact, m)
                    kth = np.partition(d, kk - 1)[kk - 1]
                    near = np.flatnonzero(d <= kth + eps)
                    top = np.union1d(top, near)
                out_q.append(np.full(len(top), qid, dtype=np.int64))
                out_n.append(cids[top])
            yield pd.DataFrame(
                {"vec_id": np.concatenate(out_q), "neighbor": np.concatenate(out_n)}
            )

    return ensure_parallelism(
        e.select("vec_id", "embedding")
    ).mapInPandas(
        gen, "vec_id bigint, neighbor bigint"
    )


def l2_topk_candidate_pairs(
    spark: SparkSession,
    e: DataFrame,
    n_cand: int,
    strategy: str | None = None,
    dim: int | None = None,
    k_exact: int | None = None,
) -> DataFrame:
    """(vec_id, neighbor) candidate pairs for L2 top-k search, same
    size dispatch as topk_candidate_pairs: theta only below
    THETA_MAX_ROWS, broadcast-BLAS prune while the corpus fits the
    2 GB broadcast budget, LSH buckets beyond — so an exact-kNN eval
    can never accidentally materialize n^2 pairs on a large table."""
    if strategy is None:
        if dim is None:
            _, dim = corpus_stats(e)
        strategy = choose_strategy(e.count(), dim)
    if strategy == "theta":
        a = e.select(F.col("vec_id"))
        b = e.select(F.col("vec_id").alias("neighbor"))
        return a.crossJoin(b).filter(F.col("vec_id") != F.col("neighbor"))
    if strategy == "broadcast_blas":
        return blas_l2_topk_candidates(spark, e, n_cand, k_exact=k_exact)
    if dim is None:
        _, dim = corpus_stats(e)
    pairs = lsh_candidate_pairs(e, dim)
    return pairs.select(
        F.col("vec_a").alias("vec_id"), F.col("vec_b").alias("neighbor")
    ).unionAll(
        pairs.select(
            F.col("vec_b").alias("vec_id"), F.col("vec_a").alias("neighbor")
        )
    )
