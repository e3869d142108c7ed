"""Similarity search over embeddings (SURVEY.md §2.2-L).

- sim_search_topk: exact top-5 cosine neighbors per vector. The plan
  is a theta self-join (pair blow-up) + per-query top-k window — all
  JVM higher-order exprs, exact at test scale. This is the
  correctness anchor AND the heavy benchmark query (BASELINE.md:
  DuckDB needs 18.2 s at sf0.1).
- sim_search_ivf: the 100 TB path — IVF coarse quantization: pick
  n_centroids by farthest-first on a collected sample, assign every
  vector to its nearest centroid (broadcast, linear), then search
  only within the nprobe nearest centroid buckets of each query.
  Pair count drops from n^2 to ~n^2 * nprobe / n_centroids.
  Approximate: tests assert recall@5 against the exact result.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import vector as V
from ..plans.distance_join import (
    lsh_candidate_pairs,
    threshold_candidate_pairs,
    topk_candidate_pairs,
)
from ..registry import query
from ..sources import load
from ..sources.tables import EMBEDDING_DIM

TOPK = 5


@query(
    "sim_search_topk",
    bounded_cross="theta tier of the size-dispatched distance join (<=128 rows)",
    oracle=f"""
SELECT vec_id, neighbor, sim, rn FROM (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor,
         round({V.duck_cosine_sim('a.embedding', 'b.embedding')}, 6) AS sim,
         ROW_NUMBER() OVER (
           PARTITION BY a.vec_id
           ORDER BY {V.duck_cosine_sim('a.embedding', 'b.embedding')} DESC, b.vec_id
         ) AS rn
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
) WHERE rn <= {TOPK}
""",
)
def sim_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors per vector.

    Two-phase exact plan (the naive theta-join scores all n^2 pairs
    with the JVM fold — correct but a large constant factor):

    1. Candidate generation: the corpus matrix is broadcast once;
       each input partition computes its query-block × corpus cosine
       matrix with BLAS inside ``mapInPandas`` and keeps the top
       (k + margin) candidate ids per query. Distributed: each task
       touches only its query block; nothing quadratic ever shuffles.
    2. Exact re-score: the ~n·(k+margin) surviving pairs are re-scored
       with the sequential-fold expression (identical IEEE order to
       the DuckDB oracle) and ranked. BLAS changes summation order,
       so phase-1 scores are only used to PRUNE (margin absorbs the
       ~1e-14 discrepancy); every returned sim/rank comes from the
       exact fold.

    Candidate generation is dispatched by corpus size
    (plans/distance_join.py choose_strategy): theta <=512 rows,
    broadcast-BLAS while the corpus matrix fits ~2 GB, LSH-bucketed
    equi-join beyond — so the full-corpus collect inside the BLAS path
    is only reachable when it provably fits, and at 100 TB the plan is
    an ordinary shuffle join. The re-score phase is identical in all
    three.
    """
    e = load(spark, sf_dir, "embeddings")
    cand = topk_candidate_pairs(
        spark, e, TOPK + 20, dim=EMBEDDING_DIM, k_exact=TOPK
    )
    a = e.select(F.col("vec_id"), F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("neighbor"), F.col("embedding").alias("eb"))
    pairs = (
        cand.join(a, "vec_id")
        .join(b, "neighbor")
        .withColumn("sim_raw", V.cosine_sim("ea", "eb"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("sim_raw").desc(), F.col("neighbor"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOPK)
        .select("vec_id", "neighbor", F.round("sim_raw", 6).alias("sim"), "rn")
    )




def _assign_centroids(df: DataFrame, cents: np.ndarray, out_col: str) -> DataFrame:
    """Nearest-centroid id via a broadcast literal array of centroids
    (linear scan per row, JVM-side; no shuffle). The centroid matrix
    is embedded as ONE parsed SQL literal rather than n_centroids*dim
    F.lit() py4j round-trips (~1 s of driver time per construction);
    values go through repr() -> CAST(string AS DOUBLE), which
    round-trips shortest-repr doubles exactly, so the assignment
    arithmetic is bit-identical."""
    cent_arr = F.expr(
        "array(" + ", ".join(V.lit_array_sql(c) for c in cents) + ")"
    )
    # argmin over centroids of L2; ties -> lowest centroid id
    expr = F.expr(
        "array_position(cd, array_min(cd)) - 1"
    )
    cd = F.expr(f"transform(cents, c -> {V.sq_l2_sql('embedding', 'c')})")
    return (
        df.withColumn("cents", cent_arr)
        .withColumn("cd", cd)
        .withColumn(out_col, expr.cast("int"))
        .drop("cents", "cd")
    )


def ivf_topk(
    spark: SparkSession,
    e: DataFrame,
    n_centroids: int = 16,
    nprobe: int = 8,
    k: int = TOPK,
) -> DataFrame:
    """IVF top-k: assign every vector to its nearest of C farthest-
    first centroids; each query probes its nprobe nearest centroid
    buckets; scoring runs as ONE cogrouped per-bucket BLAS GEMM
    (`applyInPandas` over the bucket key), emitting only each query's
    per-bucket top-(k+3) candidates; the survivors are re-scored with
    the exact fold cosine and a cheap global window re-ranks the
    ≤ nprobe·(k+3) candidates per query.

    Scale shape: the shuffle moves each corpus vector once (to its
    bucket) and each query vector nprobe times — never pairs. The
    earlier formulation equi-joined queries×members into ~n·(n·
    nprobe/C) materialized pair rows, each carrying both embeddings
    (66 s at sf0.1); the cogrouped GEMM does the same arithmetic
    inside Arrow batches at a few seconds, and at 100 TB keeps every
    bucket's matrix executor-local.

    Determinism (hash-checked since round 5): centroid selection and
    the probe map run fold-exact on the driver (vector.farthest_first
    — same IEEE sequence as the SQL oracle's unrolled replay),
    assignment is the JVM fold (_assign_centroids), and the emitted
    top-k is re-scored with the exact fold cosine — the BLAS GEMM is
    only a candidate PRUNE whose k+3 margin absorbs its
    summation-order differences, so the result equals the exact top-k
    within probed buckets and the whole pipeline replays in DuckDB
    (_ivf_oracle)."""
    import pandas as pd

    _, X = V.collect_sorted(e.orderBy("vec_id").limit(512), "vec_id", "embedding")
    cidx, _ = V.farthest_first(X, n_centroids)
    cents = X[cidx]

    data = _assign_centroids(e, cents, "bucket")

    # per-centroid probe list: nprobe nearest centroids, fold-exact
    # distances, ties -> lower centroid id (tiny, literal)
    cf = cents.tolist()
    probe_map = {
        i: sorted(
            range(n_centroids), key=lambda j: (V.fold_sq_l2(cf[i], cf[j]), j)
        )[:nprobe]
        for i in range(n_centroids)
    }
    probe_entries = F.map_from_arrays(
        F.array(*[F.lit(i) for i in probe_map]),
        F.array(*[F.array(*[F.lit(x) for x in v]) for v in probe_map.values()]),
    )
    # distinct column names per cogroup side: both sides descend from
    # the same scan, and a shared attribute name lets the optimizer's
    # column pruning collapse one side's embedding into the other's
    # (observed as a missing column in the Arrow batch)
    queries = data.withColumn(
        "probe", F.explode(probe_entries[F.col("bucket")])
    ).select("vec_id", F.col("embedding").alias("q_emb"), "probe")
    members = data.select(
        F.col("vec_id").alias("neighbor"),
        F.col("embedding").alias("m_emb"),
        F.col("bucket").alias("probe"),
    )

    kk = k + 3  # absorb the self row + the BLAS-vs-fold prune margin

    def _score(qpdf: pd.DataFrame, mpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(qpdf) or not len(mpdf):
            return pd.DataFrame(
                {
                    "vec_id": pd.Series([], dtype="int64"),
                    "neighbor": pd.Series([], dtype="int64"),
                    "sim": pd.Series([], dtype="float64"),
                }
            )
        Q = V.matrix(qpdf["q_emb"], qpdf["vec_id"])
        M = V.matrix(mpdf["m_emb"], mpdf["neighbor"])
        Q /= np.linalg.norm(Q, axis=1, keepdims=True)
        M /= np.linalg.norm(M, axis=1, keepdims=True)
        S = Q @ M.T
        qids = qpdf["vec_id"].to_numpy()
        mids = mpdf["neighbor"].to_numpy()
        take = min(kk, S.shape[1])
        out_q: list[int] = []
        out_n: list[int] = []
        out_s: list[float] = []
        for r in range(S.shape[0]):
            # full stable order by (-sim, neighbor id) BEFORE the cut:
            # an argpartition cut would break exact-sim ties at the
            # boundary by arbitrary Arrow row order (registry
            # discipline: every ranking tie-broken by a unique key)
            ordr = np.lexsort((mids, -S[r]))[:take]
            for j in ordr:
                nb = int(mids[j])
                if nb == int(qids[r]):
                    continue
                out_q.append(int(qids[r]))
                out_n.append(nb)
                out_s.append(float(S[r, j]))
        return pd.DataFrame(
            {"vec_id": out_q, "neighbor": out_n, "sim": out_s}
        )

    part = (
        queries.groupBy("probe")
        .cogroup(members.groupBy("probe"))
        .applyInPandas(_score, "vec_id bigint, neighbor bigint, sim double")
    )
    # exact fold re-score of the pruned candidates: the BLAS sims
    # decided only WHICH ~nprobe*(k+3) rows survive; the ranking and
    # the reported sim are the oracle-identical fold, so the output
    # is bit-stable and equals the exact top-k within probed buckets
    qe = e.select(F.col("vec_id"), F.col("embedding").alias("q_emb"))
    ne = e.select(
        F.col("vec_id").alias("neighbor"), F.col("embedding").alias("n_emb")
    )
    scored = (
        part.select("vec_id", "neighbor")
        .join(qe, "vec_id")
        .join(ne, "neighbor")
        .withColumn("sim", V.cosine_sim("q_emb", "n_emb"))
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("sim").desc(), F.col("neighbor")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("vec_id", "neighbor", F.round("sim", 6).alias("sim"), "rn")
    )


def _ff_head_ctes(n_centroids: int = 16, sample_n: int = 512) -> list[str]:
    """CTE fragments replaying the fold-exact farthest-first traversal
    over the first-`sample_n` sample, ending with `cents`
    (cidx, vec_id, embedding) — shared by the IVF and SemDeDup
    oracles (both engines pick centroids with vector.farthest_first
    over the same sample, so one replay serves both)."""
    d2 = V.duck_sq_l2
    parts = [
        f"""samp AS MATERIALIZED (
  SELECT vec_id, embedding,
         CAST(ROW_NUMBER() OVER (ORDER BY vec_id) AS INTEGER) - 1 AS pos
  FROM (SELECT vec_id, embedding FROM embeddings
        ORDER BY vec_id LIMIT {sample_n})
)""",
        f"""s1 AS MATERIALIZED (
  SELECT s.pos, s.vec_id, s.embedding,
         {d2('s.embedding', 'c.embedding')} AS md
  FROM samp s JOIN samp c ON c.pos = 0 WHERE s.pos <> 0
)""",
        """p1 AS MATERIALIZED (
  SELECT pos, vec_id, embedding FROM s1 ORDER BY md DESC, pos ASC LIMIT 1
)""",
    ]
    for r in range(2, n_centroids):
        parts.append(
            f"""s{r} AS MATERIALIZED (
  SELECT s.pos, s.vec_id, s.embedding,
         least(s.md, {d2('s.embedding', 'p.embedding')}) AS md
  FROM s{r - 1} s, p{r - 1} p WHERE s.pos <> p.pos
)"""
        )
        parts.append(
            f"""p{r} AS MATERIALIZED (
  SELECT pos, vec_id, embedding FROM s{r} ORDER BY md DESC, pos ASC LIMIT 1
)"""
        )
    cents = " UNION ALL ".join(
        ["SELECT 0 AS cidx, vec_id, embedding FROM samp WHERE pos = 0"]
        + [
            f"SELECT {r}, vec_id, embedding FROM p{r}"
            for r in range(1, n_centroids)
        ]
    )
    parts.append(f"cents AS MATERIALIZED ({cents})")
    return parts


def _assign_ctes() -> list[str]:
    """CTE fragments for the fold-exact nearest-centroid assignment
    (`ad`, then `asg` with the squared-norm fold) — the replay of
    _assign_centroids' argmin-with-lowest-cidx-tie-break."""
    d2 = V.duck_sq_l2
    return [
        f"""ad AS (
  SELECT e.vec_id, e.embedding, c.cidx,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY {d2('e.embedding', 'c.embedding')} ASC,
                                     c.cidx ASC) AS rn
  FROM embeddings e, cents c
)""",
        f"""asg AS MATERIALIZED (
  SELECT vec_id,
         embedding,
         {V.duck_sq_norm('embedding')} AS sq,
         cidx AS bucket
  FROM ad WHERE rn = 1
)""",
    ]


def _ivf_oracle_ctes(
    n_centroids: int = 16, nprobe: int = 8, sample_n: int = 512
) -> str:
    """CTE chain replaying the ENTIRE IVF pipeline in DuckDB: the
    fold-exact farthest-first traversal over the first-512 sample
    (unrolled n_centroids-1 rounds, MATERIALIZED — see the
    unrolled-recurrence doctrine in PLANS.md), the fold-exact probe
    map and nearest-centroid assignment, then the exact fold-cosine
    ranking within each query's probed buckets. No per-bucket cut is
    replayed: the oracle IS the exact top-k within probed buckets,
    which the engine's k+3 BLAS prune margin guarantees it returns.
    Ends with `ranked` (vec_id, neighbor, sim, rn)."""
    d2 = V.duck_sq_l2
    parts = _ff_head_ctes(n_centroids, sample_n)
    parts.append(
        f"""pd AS (
  SELECT a.cidx AS bucket, b.cidx AS probe,
         ROW_NUMBER() OVER (PARTITION BY a.cidx
                            ORDER BY {d2('a.embedding', 'b.embedding')} ASC,
                                     b.cidx ASC) AS rn
  FROM cents a, cents b
)"""
    )
    parts.append(f"probes AS (SELECT bucket, probe FROM pd WHERE rn <= {nprobe})")
    parts.extend(_assign_ctes())
    dot = V.duck_dot("q.embedding", "m.embedding")
    parts.append(
        f"""scored AS MATERIALIZED (
  SELECT q.vec_id, m.vec_id AS neighbor,
         {dot} / (sqrt(q.sq) * sqrt(m.sq)) AS sim
  FROM (SELECT a.vec_id, a.embedding, a.sq, p.probe
        FROM asg a JOIN probes p ON p.bucket = a.bucket) q
  JOIN asg m ON m.bucket = q.probe AND m.vec_id <> q.vec_id
)"""
    )
    parts.append(
        """ranked AS (
  SELECT vec_id, neighbor, sim,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY sim DESC, neighbor ASC) AS rn
  FROM scored
)"""
    )
    return ",\n".join(parts)


def _ivf_oracle() -> str:
    return f"""
WITH {_ivf_oracle_ctes()}
SELECT vec_id, neighbor, round(sim, 6) AS sim, rn
FROM ranked WHERE rn <= {TOPK}
"""


@query("sim_search_ivf", oracle=_ivf_oracle())
def sim_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-5 — hash-checked since round 5 (was
    rows-only): every selection the pipeline makes is fold-exact
    (see ivf_topk), so the DuckDB oracle replays centroid traversal,
    probe map, assignment, and the within-probed-buckets exact top-5
    end to end. Naive-oracle cost is documented in PLANS.md."""
    e = load(spark, sf_dir, "embeddings")
    return ivf_topk(spark, e)


@query(
    "dedup_embedding",
    bounded_cross="pairwise tier over the bounded candidate set",
    oracle=f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round({V.duck_cosine_sim('a.embedding', 'b.embedding')}, 6) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {V.duck_cosine_sim('a.embedding', 'b.embedding')} > 0.35
""",
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (threshold join).

    Same two-phase exact plan as sim_search_topk: a BLAS prefilter
    keeps pairs with sim > threshold - eps (eps absorbs the BLAS vs
    sequential-fold summation-order difference), then the surviving
    pairs are re-scored with the oracle-identical fold and filtered at
    the true threshold. Candidate generation is dispatched by corpus
    size (choose_strategy): the broadcast prefilter runs only while
    the corpus provably fits; beyond that the LSH-bucketed equi-join
    takes over with no driver collect anywhere."""
    thresh = 0.35
    e = load(spark, sf_dir, "embeddings")
    cand = threshold_candidate_pairs(spark, e, thresh, dim=EMBEDDING_DIM)
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    return (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .withColumn("cs", V.cosine_sim("ea", "eb"))
        .filter(F.col("cs") > thresh)
        .select("vec_a", "vec_b", F.round("cs", 6).alias("cos_sim"))
    )


def _lsh_dedup_oracle(n_bands: int = 8) -> str:
    from ..plans.distance_join import duck_simhash_sigs

    sig_case = " ".join(f"WHEN {b} THEN sig{b}" for b in range(n_bands))
    cos = V.duck_cosine_sim("ea.embedding", "eb.embedding")
    return f"""
WITH sigs AS MATERIALIZED (
  SELECT vec_id, {duck_simhash_sigs('embedding')} FROM embeddings
), banded AS MATERIALIZED (
  SELECT vec_id, b AS band_id, CASE b {sig_case} END AS sig
  FROM sigs, (SELECT unnest(generate_series(0, {n_bands - 1})) AS b)
), cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM banded a JOIN banded b
    ON a.band_id = b.band_id AND a.sig = b.sig AND a.vec_id < b.vec_id
)
SELECT c.vec_a, c.vec_b, round({cos}, 6) AS cos_sim
FROM cand c
JOIN embeddings ea ON ea.vec_id = c.vec_a
JOIN embeddings eb ON eb.vec_id = c.vec_b
WHERE {cos} > 0.35
"""


@query("dedup_embedding_lsh", oracle=_lsh_dedup_oracle())
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via the no-broadcast LSH-bucketed
    strategy (plans/distance_join.py strategy 3) — the plan shape that
    survives 100 TB: SimHash band signatures as shuffle equi-join
    keys, exact fold re-score of colliding pairs. Output is a subset
    of dedup_embedding; recall asserted in tests/test_llm.py.

    Hash-checked since round 6 (was rows-only): the signature family
    is the PORTABLE Rademacher tier (portable_simhash_bands — md5-
    derived +-1 plane literals, strict-left-fold projections), so
    DuckDB replays signatures, banding, candidate join, and the exact
    fold re-score bit-for-bit. The numpy/gaussian tier remains the
    dispatch path inside distance_join for the keys where exact
    replay isn't required — the same certified-twin pattern as
    dedup_minhash (xxhash64) vs dedup_minhash_certified (md5)."""
    thresh = 0.35
    e = load(spark, sf_dir, "embeddings")
    from ..plans.distance_join import portable_lsh_candidate_pairs

    cand = portable_lsh_candidate_pairs(e, EMBEDDING_DIM)
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    return (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .withColumn("cs", V.cosine_sim("ea", "eb"))
        .filter(F.col("cs") > thresh)
        .select("vec_a", "vec_b", F.round("cs", 6).alias("cos_sim"))
    )


@query(
    "dedup_embedding_components",
    oracle=f"""
WITH RECURSIVE pairs AS (
  SELECT a.vec_id AS src, b.vec_id AS dst
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE {V.duck_cosine_sim('a.embedding', 'b.embedding')} > 0.35
), edges AS (
  SELECT src, dst FROM pairs UNION SELECT dst AS src, src AS dst FROM pairs
), reach(id, r) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src
)
SELECT id AS vec_id, CAST(MIN(r) AS BIGINT) AS component FROM reach GROUP BY id
""",
)
def dedup_embedding_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup CLUSTERS: the cosine > 0.35 pair graph
    (dedup_embedding's exact, hash-stable pairs) grouped into
    connected components by distributed min-label propagation — the
    end-to-end semantic-dedup deliverable (pick one representative
    per component downstream, like dedup_keep_canonical does for
    text). Oracle = DuckDB recursive-CTE transitive closure over the
    identical pair set, so BOTH the threshold join and the iterative
    component operator are hash-checked."""
    from ..registry import QUERIES
    from .dedup import connected_components

    e = load(spark, sf_dir, "embeddings")
    edges = QUERIES["dedup_embedding"](spark, sf_dir).select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")
    )
    verts = e.select(F.col("vec_id").alias("id"))
    comps = connected_components(edges, verts)
    return comps.select(
        F.col("id").alias("vec_id"), F.col("label").alias("component")
    )


def _recall_eval_oracle() -> str:
    cos = V.duck_cosine_sim("a.embedding", "b.embedding")
    return f"""
WITH {_ivf_oracle_ctes()},
ivf AS (SELECT vec_id, neighbor FROM ranked WHERE rn <= {TOPK}),
ex AS (
  SELECT a.vec_id, b.vec_id AS neighbor,
         ROW_NUMBER() OVER (PARTITION BY a.vec_id
                            ORDER BY {cos} DESC, b.vec_id ASC) AS rn
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
),
exact5 AS (SELECT vec_id, neighbor FROM ex WHERE rn <= {TOPK}),
hits AS (
  SELECT e.vec_id, COUNT(*) AS n_hit
  FROM exact5 e JOIN ivf i
    ON i.vec_id = e.vec_id AND i.neighbor = e.neighbor
  GROUP BY e.vec_id
),
perq AS (
  SELECT s.vec_id, CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / {TOPK} AS recall
  FROM (SELECT DISTINCT vec_id FROM exact5) s
  LEFT JOIN hits h USING (vec_id)
)
SELECT recall, CAST(COUNT(*) AS BIGINT) AS n_queries
FROM perq GROUP BY recall
"""


@query("sim_search_recall_eval", oracle=_recall_eval_oracle())
def sim_search_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k report card for the IVF approximate path against the
    exact top-k — the evaluation any ANN deployment gates on before
    trading exactness for speed (the lang_id_eval pattern applied to
    similarity search). Per query: |approx ∩ exact| / k; the report
    is the distribution (recall level -> query count), deterministic
    because both paths are (farthest-first centroids, fixed
    tie-breaks). Computed with two semi/left joins over the two
    (query, neighbor) top-k sets — never the raw vectors."""
    exact = sim_search_topk(spark, sf_dir).select("vec_id", "neighbor")
    approx = sim_search_ivf(spark, sf_dir).select("vec_id", "neighbor")
    hits = (
        exact.join(approx, ["vec_id", "neighbor"], "left_semi")
        .groupBy("vec_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    per_q = (
        exact.select("vec_id")
        .distinct()
        .join(hits, "vec_id", "left")
        .select(
            "vec_id",
            (
                F.coalesce(F.col("n_hit"), F.lit(0)).cast("double") / TOPK
            ).alias("recall"),
        )
    )
    return (
        per_q.groupBy("recall")
        .agg(F.count(F.lit(1)).alias("n_queries"))
        .orderBy("recall")
    )


SEMDEDUP_THRESHOLD = 0.96
SEMDEDUP_CLUSTERS = 16


def _semdedup_oracle(t: float = 0.96) -> str:
    """Full SQL replay of the SemDeDup pipeline: the shared FF-
    centroid + assignment CTEs (identical to the IVF oracle's — both
    engines cluster with the same fold-exact traversal over the same
    first-512 sample), per-cluster vec_id ordering, the within-cluster
    pairwise fold-cosine table, then the GREEDY KEEP RECURRENCE as a
    recursive CTE carrying each cluster's kept-id list one rank at a
    time — a row-wise iteration, so (unlike the unrolled chains) its
    depth costs nothing at plan time."""
    head = ",\n".join(_ff_head_ctes() + _assign_ctes())
    dot = V.duck_dot("a.embedding", "b.embedding")
    cond = (
        "COALESCE((SELECT MAX(pc.cos) FROM pc "
        "WHERE pc.cluster = r.cluster AND pc.id_a = r.vec_id "
        "AND list_contains(g.kept_ids, pc.id_b)), CAST(-2 AS DOUBLE)) "
        f"<= CAST({t!r} AS DOUBLE)"
    )
    return f"""
WITH RECURSIVE {head},
rows_r AS MATERIALIZED (
  SELECT bucket AS cluster, vec_id, embedding,
         CASE WHEN sq = 0 THEN CAST(1 AS DOUBLE) ELSE sq END AS sqn,
         ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY vec_id) AS rn
  FROM asg
),
pc AS MATERIALIZED (
  SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b,
         {dot} / (sqrt(a.sqn) * sqrt(b.sqn)) AS cos
  FROM rows_r a JOIN rows_r b
    ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
),
g AS (
  SELECT cluster, rn, vec_id, TRUE AS kept, [vec_id] AS kept_ids
  FROM rows_r WHERE rn = 1
  UNION ALL
  SELECT cluster, rn, vec_id, k AS kept,
         CASE WHEN k THEN list_append(kept_ids, vec_id)
              ELSE kept_ids END AS kept_ids
  FROM (
    SELECT r.cluster, r.rn, r.vec_id, g.kept_ids, {cond} AS k
    FROM g JOIN rows_r r ON r.cluster = g.cluster AND r.rn = g.rn + 1
  )
)
SELECT vec_id, CAST(cluster AS INT) AS cluster, kept FROM g
"""


@query("dedup_semdedup", oracle=_semdedup_oracle())
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): cluster the embedding space, then WITHIN each
    cluster greedily drop any item whose cosine similarity to an
    already-kept item exceeds the threshold — the cheap way to prune
    near-identical content that exact/minhash dedup cannot see.

    Scale shape (the paper's own recipe): the n^2 problem is confined
    to clusters — k farthest-first centroids (deterministic, from a
    fixed ordered sample), one broadcast nearest-centroid assignment
    (narrow, JVM-side), one shuffle by cluster id, then an Arrow
    applyInPandas greedy pass per cluster whose pairwise work is
    sum(|cluster|^2) << n^2 and embarrassingly parallel across
    clusters. Ascending-id greedy order makes the kept set
    deterministic on any layout. Returns every vector with its
    cluster and kept/dropped verdict.

    Hash-checked since round 6 (was rows-only): centroids come from
    the same fold-exact traversal as the IVF index
    (vector.farthest_first over the first-512 sample — one SQL replay
    serves both), and the greedy pass runs FOLD-EXACT too: squared
    norms and dot products accumulate dim by dim (an elementwise +=
    over the axis IS a left fold per element), cosine =
    dot / (sqrt(sq_a) * sqrt(sq_b)) in that exact expression order —
    bit-identical to the oracle's list_sum folds, so every keep/drop
    decision replays in DuckDB's recursive-CTE greedy
    (_semdedup_oracle)."""
    import pandas as pd

    e = load(spark, sf_dir, "embeddings")
    _, X = V.collect_sorted(e.orderBy("vec_id").limit(512), "vec_id", "embedding")
    cidx, _ = V.farthest_first(X, SEMDEDUP_CLUSTERS)
    data = _assign_centroids(e, X[cidx], "cluster")
    t = SEMDEDUP_THRESHOLD

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        M = V.matrix(pdf["embedding"], pdf["vec_id"])
        # fold-exact squared norms: dim-by-dim += IS a left fold per row
        sq = np.zeros(len(M))
        for d in range(M.shape[1]):
            sq += M[:, d] * M[:, d]
        sq[sq == 0] = 1.0
        rt = np.sqrt(sq)
        kept_rows: list[int] = []
        kept = np.zeros(len(pdf), dtype=bool)
        for i in range(len(pdf)):
            if kept_rows:
                dots = np.zeros(len(kept_rows))
                Mk = M[kept_rows]
                for d in range(M.shape[1]):
                    dots += Mk[:, d] * M[i, d]
                sims = dots / (rt[np.array(kept_rows)] * rt[i])
                if sims.max() > t:
                    continue
            kept[i] = True
            kept_rows.append(i)
        out = pdf[["vec_id", "cluster"]].copy()
        out["kept"] = kept
        return out

    return data.select("vec_id", "cluster", "embedding").groupBy(
        "cluster"
    ).applyInPandas(prune, "vec_id bigint, cluster int, kept boolean")


EVAL_K = 10
EVAL_NQ = 20
PROXY_DIMS = 8
# Integer NDCG discount weights round(1e6 / log2(r + 1)): generated
# once here and embedded as literals in BOTH engines, so the DCG sum
# is exact bigint arithmetic — no float log, no order sensitivity.
import math as _math

_NDCG_W = [round(1_000_000 / _math.log2(r + 1)) for r in range(1, EVAL_K + 1)]
_IDCG = sum(_NDCG_W)


def _rank_eval_oracle() -> str:
    w_case = " ".join(
        f"WHEN {r + 1} THEN {w}" for r, w in enumerate(_NDCG_W)
    )
    return f"""
WITH q AS MATERIALIZED (
  SELECT vec_id AS qid, embedding AS qe, embedding[1:{PROXY_DIMS}] AS qe8
  FROM embeddings ORDER BY vec_id LIMIT {EVAL_NQ}
), p AS MATERIALIZED (
  SELECT q.qid, e.vec_id,
         {V.duck_cosine_sim('q.qe', 'e.embedding')} AS sim_full,
         {V.duck_cosine_sim('q.qe8', f'e.embedding[1:{PROXY_DIMS}]')} AS sim_proxy
  FROM q JOIN embeddings e ON e.vec_id <> q.qid
), r AS MATERIALIZED (
  SELECT qid, vec_id,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY sim_full DESC, vec_id) AS rn_t,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY sim_proxy DESC, vec_id) AS rn_s
  FROM p
), truth AS (SELECT qid, vec_id FROM r WHERE rn_t <= {EVAL_K}),
sys AS (SELECT qid, vec_id, rn_s FROM r WHERE rn_s <= {EVAL_K}),
j AS (
  SELECT s.qid, s.rn_s,
         CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit,
         CASE s.rn_s {w_case} END AS w
  FROM sys s
  LEFT JOIN truth t ON t.qid = s.qid AND t.vec_id = s.vec_id
)
SELECT qid AS query_id,
       CAST(SUM(hit) AS BIGINT) AS n_hits,
       CAST(SUM(hit * w) AS DOUBLE) / {_IDCG} AS ndcg_at_{EVAL_K},
       COALESCE(1.0 / MIN(CASE WHEN hit = 1 THEN rn_s END), 0.0) AS mrr,
       CAST(SUM(hit) AS DOUBLE) / {EVAL_K} AS recall_at_{EVAL_K}
FROM j GROUP BY qid
"""


@query("sim_search_recall_ndcg", oracle=_rank_eval_oracle())
def sim_search_recall_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality harness for approximate retrieval — NDCG@10,
    MRR, and recall@10 of a cheap low-dimensional proxy retriever
    (cosine over the first 8 of 64 dims) against exact full-dim
    cosine truth, for the 20 smallest query ids. This is the IR-eval
    counterpart to sim_search_recall_eval's set-recall gate: NDCG
    weights WHERE in the top-10 the truth lands, not just whether.

    Exactness: discount weights are integer literals
    round(1e6/log2(r+1)) shared by both engines, so DCG is an exact
    bigint sum and NDCG/MRR/recall are single divisions — bit-exact,
    no rounding. Scale shape: the query side is a constant-20
    broadcast, so pair work is O(20 n) with per-query partitioned
    windows; nothing quadratic in the corpus."""
    e = load(spark, sf_dir, "embeddings")
    q = (
        e.orderBy("vec_id")
        .limit(EVAL_NQ)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qe"),
            F.slice("embedding", 1, PROXY_DIMS).alias("qe8"),
        )
    )
    c = e.select(
        "vec_id",
        F.col("embedding").alias("ce"),
        F.slice("embedding", 1, PROXY_DIMS).alias("ce8"),
    )
    pairs = (
        c.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .withColumn("sim_full", V.cosine_sim("qe", "ce"))
        .withColumn("sim_proxy", V.cosine_sim("qe8", "ce8"))
    )
    wt = Window.partitionBy("qid").orderBy(F.desc("sim_full"), "vec_id")
    ws = Window.partitionBy("qid").orderBy(F.desc("sim_proxy"), "vec_id")
    r = pairs.select(
        "qid",
        "vec_id",
        F.row_number().over(wt).alias("rn_t"),
        F.row_number().over(ws).alias("rn_s"),
    )
    truth = r.filter(F.col("rn_t") <= EVAL_K).select("qid", "vec_id")
    sys_ = r.filter(F.col("rn_s") <= EVAL_K).select("qid", "vec_id", "rn_s")
    warr = F.array(*[F.lit(w) for w in _NDCG_W])
    j = sys_.join(
        F.broadcast(truth.withColumn("hit", F.lit(1))),
        ["qid", "vec_id"],
        "left",
    ).select(
        "qid",
        "rn_s",
        F.coalesce("hit", F.lit(0)).alias("hit"),
        F.element_at(warr, F.col("rn_s").cast("int")).alias("w"),
    )
    return j.groupBy(F.col("qid").alias("query_id")).agg(
        F.sum("hit").cast("bigint").alias("n_hits"),
        (
            F.sum(F.col("hit") * F.col("w")).cast("double") / F.lit(_IDCG)
        ).alias(f"ndcg_at_{EVAL_K}"),
        F.coalesce(
            F.lit(1.0)
            / F.min(F.when(F.col("hit") == 1, F.col("rn_s"))),
            F.lit(0.0),
        ).alias("mrr"),
        (F.sum("hit").cast("double") / F.lit(EVAL_K)).alias(
            f"recall_at_{EVAL_K}"
        ),
    )


def _knn_eval_oracle() -> str:
    from ..functions.vector import duck_l2_dist

    d = duck_l2_dist("a.embedding", "b.embedding")
    return f"""
WITH nn AS (
  SELECT a.vec_id, a.label AS true_label, b.label AS nb_label,
         ROW_NUMBER() OVER (PARTITION BY a.vec_id
                            ORDER BY {d} ASC, b.vec_id ASC) AS rn
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
), votes AS (
  SELECT vec_id, true_label, nb_label, COUNT(*) AS n
  FROM nn WHERE rn <= 5 GROUP BY vec_id, true_label, nb_label
), pred AS (
  SELECT vec_id, true_label, nb_label AS predicted_label
  FROM (SELECT vec_id, true_label, nb_label,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY n DESC, nb_label ASC) AS rn
        FROM votes) WHERE rn = 1
)
SELECT CAST(true_label AS INT) AS true_label,
       CAST(predicted_label AS INT) AS predicted_label,
       CAST(COUNT(*) AS BIGINT) AS n,
       (SELECT CASE
            WHEN COUNT(*) <= 128 THEN 'theta'
            WHEN COUNT(*) * (SELECT len(embedding) FROM embeddings LIMIT 1) * 8
                 <= 2147483648 THEN 'broadcast_blas'
            ELSE 'lsh_bucketed' END
        FROM embeddings) AS tier
FROM pred GROUP BY true_label, predicted_label
"""


@query("knn_classify_eval", oracle=_knn_eval_oracle())
def knn_classify_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out 5-NN classification confusion matrix over the
    labeled embeddings — the ground-truth eval every ANN index and
    embedding model is judged against (sim_search_recall_eval grades
    RETRIEVAL against this same exact-kNN truth; this key grades the
    LABELS). Each point's 5 nearest others (bit-matched V.l2_dist,
    ties -> smaller vec_id) vote; majority wins, vote ties -> the
    smaller label — fully deterministic. The confusion matrix is a
    10x10 integer table. EVAL-tier scale note: exact leave-one-out
    kNN is intentionally the quadratic ground truth (that is what
    makes it a truth set — same doctrine as the sim_search oracles);
    production classification at corpus scale goes through the IVF /
    LSH candidate paths, and their quality is measured BY this key.
    The per-point top-5 is a rank-limit window (WindowGroupLimit
    caps state at 5 per point). Pair generation goes through
    plans/distance_join.l2_topk_candidate_pairs — the same size
    dispatch as sim_search_topk (theta <=128 rows, broadcast-BLAS
    prune-only within the 2 GB budget), so this eval can never
    accidentally materialize n^2 pairs on a large table; the
    candidate margin (32 >> k=5) plus the exact bit-matched re-score
    below keeps the truth set exact on the theta and BLAS tiers.
    EXACTNESS CONTRACT, machine-visible two ways: (1) the output
    carries a literal ``tier`` column (the chosen strategy, also
    recomputed arithmetically by the oracle from COUNT(*)/dim, so a
    dispatch drift fails the hash gate loudly); (2) above the 2 GB
    broadcast budget — where the only candidate path is lossy LSH
    and "ground truth" would silently degrade to "high-recall
    approximation" — this key RAISES instead of returning (the
    facility_location coreset-guard precedent): measure approximate-
    tier retrieval quality with sim_search_recall_eval, don't call
    an approximation a truth set."""
    from ..plans.distance_join import (
        choose_strategy,
        corpus_stats,
        l2_topk_candidate_pairs,
    )

    e = load(spark, sf_dir, "embeddings")
    n_rows, dim = corpus_stats(e)
    strategy = choose_strategy(n_rows, dim)
    if strategy == "lsh_bucketed":
        raise ValueError(
            "knn_classify_eval is an EXACT leave-one-out truth set; at "
            f"{n_rows} x {dim}-d the corpus exceeds the broadcast-BLAS "
            "budget and only the lossy LSH candidate tier remains. "
            "Refusing to emit an approximate confusion matrix as ground "
            "truth — evaluate approximate tiers with "
            "sim_search_recall_eval instead."
        )
    a = e.select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("a_emb"),
        F.col("label").alias("true_label"),
    )
    b = e.select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_emb"),
        F.col("label").alias("nb_label"),
    )
    from ..functions.vector import l2_dist

    cand = l2_topk_candidate_pairs(
        spark, e, n_cand=32, strategy=strategy, dim=dim, k_exact=6
    )
    pairs = (
        cand.join(a, cand["vec_id"] == a["a_id"])
        .join(b, cand["neighbor"] == b["b_id"])
        .select(
            "a_id",
            "true_label",
            "nb_label",
            F.col("b_id"),
            l2_dist("a_emb", "b_emb").alias("d"),
        )
    )
    w = Window.partitionBy("a_id").orderBy(
        F.col("d").asc(), F.col("b_id").asc()
    )
    top5 = pairs.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 5
    )
    votes = top5.groupBy("a_id", "true_label", "nb_label").agg(
        F.count(F.lit(1)).alias("n")
    )
    wv = Window.partitionBy("a_id").orderBy(
        F.col("n").desc(), F.col("nb_label").asc()
    )
    pred = (
        votes.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("true_label", F.col("nb_label").alias("predicted_label"))
    )
    return (
        pred.groupBy(
            F.col("true_label").cast("int").alias("true_label"),
            F.col("predicted_label").cast("int").alias("predicted_label"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .withColumn("tier", F.lit(strategy))
    )


LOF_K = 10


def _lof_oracle() -> str:
    from ..functions.vector import duck_l2_dist

    d = duck_l2_dist("a.embedding", "b.embedding")
    return f"""
WITH pairs AS (
  SELECT a.vec_id AS a, b.vec_id AS b, {d} AS d
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
), nn AS (
  SELECT a, b, d,
         ROW_NUMBER() OVER (PARTITION BY a ORDER BY d ASC, b ASC) AS rn
  FROM pairs
), knn AS (
  SELECT * FROM nn WHERE rn <= {LOF_K}
), kd AS (
  SELECT a, MAX(d) AS kdist FROM knn GROUP BY a
), reach AS (
  SELECT k.a, k.b, k.rn, GREATEST(kb.kdist, k.d) AS r
  FROM knn k JOIN kd kb ON kb.a = k.b
), lrd AS (
  SELECT a, CAST({LOF_K} AS DOUBLE) / list_sum(list(r ORDER BY rn)) AS lrd
  FROM reach GROUP BY a
), lof AS (
  SELECT k.a,
         list_sum(list(lb.lrd ORDER BY k.rn)) / {LOF_K} / la.lrd AS lof
  FROM knn k JOIN lrd lb ON lb.a = k.b JOIN lrd la ON la.a = k.a
  GROUP BY k.a, la.lrd
)
SELECT kd.a AS vec_id, kd.kdist AS k_dist, lrd.lrd AS lrd, lof.lof AS lof
FROM kd JOIN lrd ON lrd.a = kd.a JOIN lof ON lof.a = kd.a
"""


@query("anomaly_lof", oracle=_lof_oracle())
def anomaly_lof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local Outlier Factor (Breunig 2000, k={LOF_K}) over the
    embedding corpus — the DENSITY-relative outlier score the
    z-score family (anomaly_daily_zscore / _mad_robust /
    _mahalanobis) cannot express: a point is anomalous relative to
    its NEIGHBORHOOD's density, so clusters of different densities
    each keep their own normal band. LOF(a) = mean_b lrd(b)/lrd(a)
    over a's k nearest, lrd = k / sum reachdist,
    reachdist(a<-b) = max(kdist(b), d(a,b)).

    Exactness: neighbor sets come from the same size-dispatched
    candidate machinery as knn_classify_eval (margin 32 >> k, exact
    bit-matched l2_dist re-score, (d, id)-stable ranking; RAISES on
    the lossy LSH tier — same truth-set doctrine), and every
    k-element sum folds in neighbor-RANK order via the strict-fold
    pair (F.aggregate over array_sort == list_sum over ORDER BY
    rn) so the float chain is bit-identical. Scale shape: candidate
    generation is the bucketed/BLAS distance-join path (never raw
    n^2 on the engine side); everything after is O(n*k) rows of
    key-equi-joins and hash aggregates."""
    from ..functions.vector import l2_dist
    from ..plans.distance_join import (
        choose_strategy,
        corpus_stats,
        l2_topk_candidate_pairs,
    )

    e = load(spark, sf_dir, "embeddings")
    n_rows, dim = corpus_stats(e)
    strategy = choose_strategy(n_rows, dim)
    if strategy == "lsh_bucketed":
        raise ValueError(
            "anomaly_lof needs the EXACT k-NN graph; above the "
            "broadcast-BLAS budget only the lossy LSH candidate tier "
            "remains. Refusing to score approximate neighborhoods as "
            "LOF ground truth."
        )
    cand = l2_topk_candidate_pairs(
        spark, e, n_cand=32, strategy=strategy, dim=dim, k_exact=LOF_K
    )
    a = e.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("a_emb"))
    b = e.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_emb"))
    from pyspark.sql.window import Window as W

    scored = (
        cand.join(a, cand["vec_id"] == a["a_id"])
        .join(b, cand["neighbor"] == b["b_id"])
        .select(
            "a_id",
            "b_id",
            l2_dist("a_emb", "b_emb").alias("d"),
        )
    )
    wr = W.partitionBy("a_id").orderBy(F.asc("d"), F.asc("b_id"))
    knn = (
        scored.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= LOF_K)
        .select("a_id", "b_id", "d", "rn")
    )
    kd = knn.groupBy("a_id").agg(F.max("d").alias("kdist"))
    kd_b = kd.select(F.col("a_id").alias("b_id"), F.col("kdist").alias("kdist_b"))
    reach = knn.join(kd_b, "b_id").select(
        "a_id",
        "b_id",
        "rn",
        F.greatest(F.col("kdist_b"), F.col("d")).alias("r"),
    )

    def rank_fold(col):
        return F.aggregate(
            F.array_sort(F.collect_list(F.struct("rn", F.col(col).alias("v")))),
            F.lit(0.0),
            lambda acc, x: acc + x["v"],
        )

    lrd = reach.groupBy("a_id").agg(
        (F.lit(float(LOF_K)) / rank_fold("r")).alias("lrd")
    )
    lrd_b = lrd.select(F.col("a_id").alias("b_id"), F.col("lrd").alias("lrd_b"))
    lof = (
        knn.join(lrd_b, "b_id")
        .join(lrd, "a_id")
        .groupBy("a_id", "lrd")
        .agg(rank_fold("lrd_b").alias("slrd"))
        .select(
            "a_id",
            (F.col("slrd") / F.lit(LOF_K) / F.col("lrd")).alias("lof"),
        )
    )
    return (
        kd.join(lrd, "a_id")
        .join(lof, "a_id")
        .select(
            F.col("a_id").alias("vec_id"),
            F.col("kdist").alias("k_dist"),
            "lrd",
            "lof",
        )
    )


ISO_TREES = 8
ISO_DEPTH = 10
ISO_BINS = 1 << ISO_DEPTH  # per-dim quantization (max revisits = depth)


def _iso_dim(t: int, j: int) -> int:
    """Portable tree/level -> dimension selector (Knuth mix)."""
    return ((t * 1000003 + j) * 2654435761 % 4294967296) % 64


_ISO_GRID = [
    (t, j, _iso_dim(t, j),
     sum(1 for jj in range(1, j) if _iso_dim(t, jj) == _iso_dim(t, j)))
    for t in range(ISO_TREES)
    for j in range(1, ISO_DEPTH + 1)
]  # (tree, level, dim, revisit_index)


def _iso_oracle() -> str:
    grid_vals = ", ".join(f"({t}, {j}, {d}, {r})" for t, j, d, r in _ISO_GRID)
    return f"""
WITH grid AS (
  SELECT * FROM (VALUES {grid_vals}) AS g(t, j, dim, ridx)
), rng AS (
  SELECT u.dim, MIN(u.v) AS lo, MAX(u.v) AS hi
  FROM (SELECT unnest(generate_series(0, 63)) AS dim, e.embedding FROM embeddings e) s,
       LATERAL (SELECT s.dim AS dim, CAST(s.embedding[s.dim + 1] AS DOUBLE) AS v) u
  GROUP BY u.dim
), q AS (
  SELECT e.vec_id, r.dim,
         CASE WHEN r.hi > r.lo THEN
           LEAST({ISO_BINS - 1}, GREATEST(0,
             CAST(FLOOR((CAST(e.embedding[r.dim + 1] AS DOUBLE) - r.lo)
                        * {ISO_BINS} / (r.hi - r.lo)) AS BIGINT)))
         ELSE 0 END AS qv
  FROM embeddings e, rng r
), bits AS (
  SELECT q.vec_id, g.t, g.j,
         CAST((q.qv >> g.ridx) & 1 AS BIGINT) AS bit
  FROM grid g JOIN q ON q.dim = g.dim
), cells AS (
  SELECT b.vec_id, b.t, d.d,
         CAST(SUM(CASE WHEN b.j <= d.d THEN b.bit * (1 << b.j) ELSE 0 END)
              AS BIGINT) AS cell
  FROM bits b, unnest(generate_series(1, {ISO_DEPTH})) d(d)
  GROUP BY 1, 2, 3
), occ AS (
  SELECT t, d, cell, CAST(COUNT(*) AS BIGINT) AS n
  FROM cells GROUP BY 1, 2, 3
), iso AS (
  SELECT c.vec_id, c.t,
         COALESCE(MIN(CASE WHEN o.n = 1 THEN c.d END), {ISO_DEPTH + 1})
           AS depth
  FROM cells c JOIN occ o ON o.t = c.t AND o.d = c.d AND o.cell = c.cell
  GROUP BY 1, 2
)
SELECT vec_id,
       CAST(SUM(depth) AS DOUBLE) / {ISO_TREES} AS mean_iso_depth,
       CAST(MIN(depth) AS BIGINT) AS min_iso_depth,
       CAST(SUM(CASE WHEN depth <= {ISO_DEPTH} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_isolated_trees
FROM iso GROUP BY vec_id
"""


@query("anomaly_isolation_grid", oracle=_iso_oracle())
def anomaly_isolation_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic isolation forest over the embeddings: {ISO_TREES}
    trees of depth {ISO_DEPTH} whose splits are MIDPOINT cuts of
    data-independent per-dimension ranges (dimension order by a
    portable Knuth mix). Midpoint splits make every node a dyadic
    grid cell, so 'the depth at which a point is isolated' becomes
    'the first depth at which its cell count is 1' — the
    iForest-style density score (low depth = anomalous) computed by
    pure hash aggregates, no trees materialized and no RNG state.
    Complements anomaly_lof: LOF is neighborhood-relative (exact
    k-NN graph), this is axis-parallel partition depth (one pass,
    cheap at any scale) — the screening-vs-confirmation pair a real
    pipeline runs in that order.

    Exactness: per-dim ranges are exact float MIN/MAX; quantized
    coordinates are single fixed float expressions floor-clamped to
    integers; everything after (bits, dyadic cell ids, counts,
    isolation depths) is exact integer arithmetic. Scale shape: one
    range aggregate, one bounded 80-row grid replication, two hash
    aggregates and a key-equi-join — fully linear, no pairwise
    anything."""
    e = load(spark, sf_dir, "embeddings")
    # per-dim ranges (64 rows -> driver floats -> literals; exact
    # min/max so the values equal the oracle's inline aggregates)
    expl = e.select(
        F.posexplode(F.col("embedding")).alias("dim", "v")
    ).select("dim", F.col("v").cast("double").alias("v"))
    rng = {
        int(r["dim"]): (float(r["lo"]), float(r["hi"]))
        for r in expl.groupBy("dim")
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
        .collect()
    }
    grid = spark.createDataFrame(
        _ISO_GRID, "t int, j int, dim int, ridx int"
    )
    lo_arr = V.lit_double_array(rng[d][0] for d in range(64))
    hi_arr = V.lit_double_array(rng[d][1] for d in range(64))
    q = (
        e.withColumn("lo_a", lo_arr)
        .withColumn("hi_a", hi_arr)
        .select(
            "vec_id",
            F.expr(
                f"transform(sequence(0, 63), d -> "
                f"CASE WHEN element_at(hi_a, d + 1) > element_at(lo_a, d + 1) THEN "
                f"LEAST({ISO_BINS - 1}, GREATEST(0, "
                f"CAST(FLOOR((CAST(element_at(embedding, d + 1) AS DOUBLE) "
                f"- element_at(lo_a, d + 1)) "
                f"* {ISO_BINS} / (element_at(hi_a, d + 1) - element_at(lo_a, d + 1))) "
                f"AS BIGINT))) "
                f"ELSE CAST(0 AS BIGINT) END)"
            ).alias("qvs"),
        )
    )
    # bounded: 80-row (tree, level) grid replication
    bits = q.crossJoin(F.broadcast(grid)).select(
        "vec_id",
        "t",
        "j",
        F.expr("CAST(shiftright(element_at(qvs, dim + 1), ridx) & 1 AS BIGINT)")
        .alias("bit"),
    )
    depths = spark.range(1, ISO_DEPTH + 1).select(
        F.col("id").cast("int").alias("d")
    )
    # bounded: 10-row depth grid
    cells = (
        bits.crossJoin(F.broadcast(depths))
        .groupBy("vec_id", "t", "d")
        .agg(
            F.sum(
                F.when(
                    F.col("j") <= F.col("d"),
                    F.col("bit") * F.expr("CAST(shiftleft(1, j) AS BIGINT)"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("cell")
        )
    )
    occ = cells.groupBy("t", "d", "cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    iso = (
        cells.join(occ, ["t", "d", "cell"])
        .groupBy("vec_id", "t")
        .agg(
            F.coalesce(
                F.min(F.when(F.col("n") == 1, F.col("d"))),
                F.lit(ISO_DEPTH + 1),
            ).alias("depth")
        )
    )
    return iso.groupBy("vec_id").agg(
        (F.sum("depth").cast("double") / F.lit(ISO_TREES)).alias(
            "mean_iso_depth"
        ),
        F.min("depth").cast("bigint").alias("min_iso_depth"),
        F.sum(F.when(F.col("depth") <= ISO_DEPTH, 1).otherwise(0))
        .cast("bigint")
        .alias("n_isolated_trees"),
    )
