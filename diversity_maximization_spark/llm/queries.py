"""LLM-pipeline query registrations (SURVEY.md §2.2-L)."""

from . import dedup, multimodal, simsearch, textstats, transforms  # noqa: F401


# embed_normalize lives here (pure-SQL twin of udf_scalar_pandas)
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import vector as V
from ..registry import query
from ..sources import load


@query(
    "embed_normalize",
    oracle=f"""
SELECT vec_id,
       array_to_string(list_transform({V.duck_l2_normalize('embedding')},
         x -> CAST(round(x * 1000000) AS BIGINT)), ',') AS unit_vec_q,
       round(sqrt({V.duck_sq_norm('embedding')}), 6) AS norm
FROM embeddings
""",
)
def embed_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-normalize the embedding column — pure higher-order SQL.

    The normalized vector is serialized as comma-joined 1e6-scaled
    int64 (driver canonicalizer cannot hash list cells; int formatting
    is engine-identical, float formatting is not)."""
    e = load(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.array_join(
            F.expr(
                "transform(embedding, u -> CAST(round(CAST(u AS DOUBLE) / "
                f"sqrt({V.sq_norm_sql('embedding')}) * 1000000) AS BIGINT))"
            ),
            ",",
        ).alias("unit_vec_q"),
        F.round(F.sqrt(V.sq_norm("embedding")), 6).alias("norm"),
    )


@query(
    "embed_quantize",
    oracle="""
SELECT vec_id,
       array_to_string(list_transform(embedding,
         x -> CAST(round(CAST(x AS DOUBLE) * 127 /
                list_aggregate(list_transform(embedding,
                               y -> abs(CAST(y AS DOUBLE))), 'max'))
              AS BIGINT)), ',') AS q8,
       round(list_aggregate(list_transform(embedding,
             y -> abs(CAST(y AS DOUBLE))), 'max') / 127, 6) AS scale
FROM embeddings
""",
)
def embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column
    (q = round(127 * x / max|x|), per-vector scale) — the standard
    memory-4x-reduction step before ANN indexing of a 100 TB corpus.
    Integer outputs are hash-exact across engines. A narrow map, no
    shuffle. (Expression form re-derives the max per element after
    projection collapse — O(d^2) per row, fine at d=64; for large d
    the same map runs in one pass per vector as an Arrow-batched
    mapInPandas, like multimodal_features.)"""
    e = load(spark, sf_dir, "embeddings")
    amax = "aggregate(embedding, CAST(0 AS DOUBLE), (s, y) -> greatest(s, abs(CAST(y AS DOUBLE))))"
    return e.select(
        "vec_id",
        F.array_join(
            F.expr(
                f"transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 127 / {amax}) AS BIGINT))"
            ),
            ",",
        ).alias("q8"),
        F.expr(f"round({amax} / 127, 6)").alias("scale"),
    )


_PCA_DIM = 8


@query("embed_pca")  # rows-only: eigendecomposition is not SQL-expressible
def embed_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA projection of the embedding table to 8
    dimensions — the standard compression step before clustering /
    ANN indexing a pre-training corpus.

    Scale shape: the ONLY driver-side state is the d x d Gram matrix
    (64 x 64 doubles = 32 KB) — each partition computes its partial
    X^T X and row-sum with numpy inside mapInPandas (Arrow-batched),
    the driver sums the partials in sorted partition order
    (deterministic), eigendecomposes with numpy, and broadcasts the
    8 x 64 component matrix back into a JVM-side projection. The data
    never funnels through fewer than all partitions; 100 TB of rows
    still produce one 32 KB partial per partition.

    Sign convention: each component's largest-|coordinate| entry is
    made positive, so the output is unique regardless of the
    eigensolver's sign choice. Output is one double column per
    principal component (pc0 highest-variance) — no array cells."""
    import numpy as np
    import pandas as pd

    e = load(spark, sf_dir, "embeddings")
    dim = len(e.select("embedding").first()["embedding"])

    def partials(batches):
        gram = np.zeros((dim, dim))
        rsum = np.zeros(dim)
        cnt, pid = 0, -1
        for pdf in batches:
            pid = int(pdf["pid"].iloc[0])
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            gram += X.T @ X
            rsum += X.sum(axis=0)
            cnt += len(X)
        if cnt:
            yield pd.DataFrame(
                {
                    "pid": [pid],
                    "gram": [gram.ravel().tolist()],
                    "rsum": [rsum.tolist()],
                    "cnt": [cnt],
                }
            )

    rows = (
        e.select("embedding")
        .withColumn("pid", F.spark_partition_id())
        .mapInPandas(
            partials,
            "pid int, gram array<double>, rsum array<double>, cnt bigint",
        )
        .collect()
    )
    gram = np.zeros((dim, dim))
    rsum = np.zeros(dim)
    n = 0
    # sum partials in partition order: deterministic float reduction
    for r in sorted(rows, key=lambda r: r["pid"]):
        gram += np.array(r["gram"]).reshape(dim, dim)
        rsum += np.array(r["rsum"])
        n += r["cnt"]
    mu = rsum / n
    cov = gram / n - np.outer(mu, mu)
    evals, evecs = np.linalg.eigh(cov)
    comps = evecs[:, ::-1][:, :_PCA_DIM].T  # rows = components, desc variance
    for i in range(_PCA_DIM):
        j = int(np.abs(comps[i]).argmax())
        if comps[i, j] < 0:
            comps[i] = -comps[i]

    proj_cols = [
        (V.dot("embedding", V.lit_array_sql(c)) - F.lit(float(c @ mu))).alias(f"pc{i}")
        for i, c in enumerate(comps)
    ]
    return e.select("vec_id", *proj_cols)


# ------------------------------------------------ power iteration

_POWER_DIM = 64
_POWER_SQUARINGS = 8  # M^(2^8) = M^256 -- overwhelming eigengap amplification
_POWER_PSCALE = 10_000_000  # per-row product fixed point (1e7)
_POWER_SSCALE = 1_000_000  # squared-matrix entry fixed point (1e6)
_POWER_VSCALE = 10_000  # output loading fixed point (1e4)


def _pca_power_oracle() -> str:
    """Scaled-integer matrix-power iteration in DuckDB -- the
    hash-checked companion of embed_pca's eigendecomposition (which
    is LAPACK and stays rows-only). Every data-dependent step is
    exact: per-row second-moment contributions are quantized with
    FLOOR(prod * 1e7 + 0.5) (floor-plus-half, NOT round -- round-half
    tie behavior differs per engine, the embed_centroids_report
    lesson) and bigint-summed order-free; each of the 8 squarings is
    bigint multiply/sum over the 64 x 64 quantized matrix (entries
    <= 1e6, sums <= 64e12 -- inside 2^53, so the renorm division's
    double arithmetic is EXACT) followed by a renormalization whose
    divide / multiply sequence is IEEE-identical in both engines.
    MATERIALIZED is load-bearing: each CTE is referenced twice and
    DuckDB would otherwise re-expand the chain exponentially."""
    d = _POWER_DIM
    k = _POWER_SQUARINGS
    head = f"""
WITH pairs AS MATERIALIZED (
  SELECT ii.i AS i, jj.j AS j,
         CAST(SUM(CAST(FLOOR((CAST(embedding[ii.i + 1] AS DOUBLE)
               * CAST(embedding[jj.j + 1] AS DOUBLE))
               * {_POWER_PSCALE}.0 + 0.5) AS BIGINT)) AS BIGINT) AS m
  FROM embeddings,
       generate_series(0, {d - 1}) ii(i),
       generate_series(0, {d - 1}) jj(j)
  GROUP BY ii.i, jj.j
), s0 AS MATERIALIZED (
  SELECT i, j,
         CAST(FLOOR(CAST(m AS DOUBLE)
              / CAST((SELECT MAX(ABS(m)) FROM pairs) AS DOUBLE)
              * {_POWER_SSCALE}.0 + 0.5) AS BIGINT) AS s
  FROM pairs
)"""
    rounds = []
    for t in range(1, k + 1):
        rounds.append(f"""
, t{t} AS MATERIALIZED (
  SELECT a.i AS i, b.j AS j, CAST(SUM(a.s * b.s) AS BIGINT) AS t
  FROM s{t - 1} a JOIN s{t - 1} b ON a.j = b.i
  GROUP BY a.i, b.j
), s{t} AS MATERIALIZED (
  SELECT i, j,
         CAST(FLOOR(CAST(t AS DOUBLE)
              / CAST((SELECT MAX(ABS(t)) FROM t{t}) AS DOUBLE)
              * {_POWER_SSCALE}.0 + 0.5) AS BIGINT) AS s
  FROM t{t}
)"""
        )
    tail = f"""
, u AS MATERIALIZED (
  SELECT i AS dim, CAST(SUM(s) AS BIGINT) AS u FROM s{k} GROUP BY i
), fin AS MATERIALIZED (
  SELECT dim,
         CAST(FLOOR(CAST(u AS DOUBLE)
              / CAST((SELECT MAX(ABS(u)) FROM u) AS DOUBLE)
              * {_POWER_VSCALE}.0 + 0.5) AS BIGINT) AS v
  FROM u
), pick AS (SELECT v FROM fin ORDER BY ABS(v) DESC, dim LIMIT 1)
SELECT CAST(f.dim AS INTEGER) AS dim,
       CAST(CASE WHEN (SELECT v FROM pick) < 0 THEN -f.v ELSE f.v END
            AS BIGINT) AS loading_scaled
FROM fin f
"""
    return head + "".join(rounds) + tail


@query("embed_pca_power", oracle=_pca_power_oracle())
def embed_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-exact PCA companion tier: the leading principal direction
    of the UNCENTERED second-moment matrix X^T X by repeated matrix
    SQUARING in scaled-integer arithmetic (8 squarings = M^256, then
    one matvec with the ones vector) -- a recurrence both engines
    replay bit-for-bit, closing (for the dominant direction) the gap
    NEVER_SAMPLED.md documents for embed_pca's LAPACK eigensolve.
    Squaring beats the classic per-vector iteration here twice over:
    log-depth (8 rounds reach the amplification 256 sequential matvec
    rounds would) and a shorter oracle chain.

    Scale shape (same as embed_pca): the only data-sized pass is the
    quantized-moment aggregation -- each partition folds its rows into
    a 64 x 64 int64 partial inside one Arrow-batched mapInPandas, the
    4096-row partials groupBy-SUM exactly (integer, order-free), and
    the squarings run on the driver over the 32 KB matrix in
    arbitrary-precision Python ints. 100 TB of rows still produce one
    4096-row partial per partition and a 4096-row shuffle.

    Exactness contract: per-row quantization is FLOOR(prod*1e7 + 0.5)
    on DOUBLE-cast floats (numpy float64 does the identical IEEE
    sequence). After the initial renorm every matrix entry is <= 1e6,
    so squaring sums are <= 64e12 -- exact in int64 AND in the renorm
    division's double conversion (< 2^53). The initial renorm divides
    the raw moment m (possibly > 2^53 on a huge corpus) by max|m| in
    double -- both engines execute the identical IEEE sequence
    (m / mmax) * 1e6 left-to-right, so the hash gate holds at any
    scale. Sign convention: the max-|loading| dimension (tie: lowest
    dim) is made positive. Output: (dim, loading_scaled) -- 64
    integer rows.
    """
    import math

    import numpy as np
    import pandas as pd

    from ..plans.distance_join import ensure_parallelism

    d = _POWER_DIM
    e = load(spark, sf_dir, "embeddings")

    def partials(batches):
        acc = np.zeros((d, d), dtype=np.int64)
        seen = False
        for pdf in batches:
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            for i in range(d):
                q = np.floor((X[:, i : i + 1] * X) * float(_POWER_PSCALE) + 0.5)
                acc[i] += q.astype(np.int64).sum(axis=0)
            seen = True
        if seen:
            ii, jj = np.indices((d, d))
            yield pd.DataFrame(
                {"i": ii.ravel(), "j": jj.ravel(), "m": acc.ravel()}
            )

    rows = (
        ensure_parallelism(e.select("embedding"))
        .mapInPandas(partials, "i int, j int, m bigint")
        .groupBy("i", "j")
        .agg(F.sum("m").alias("m"))
        .collect()  # bounded: 64 x 64 = 4096 rows regardless of data size
    )
    M = [[0] * d for _ in range(d)]
    for r in rows:
        M[r["i"]][r["j"]] = int(r["m"])

    def renorm(T, scale):
        tmax = max(abs(x) for row in T for x in row)
        return [
            [
                math.floor(float(x) / float(tmax) * float(scale) + 0.5)
                for x in row
            ]
            for row in T
        ]

    S = renorm(M, _POWER_SSCALE)
    for _ in range(_POWER_SQUARINGS):
        S = renorm(
            [
                [sum(S[i][l] * S[l][j] for l in range(d)) for j in range(d)]
                for i in range(d)
            ],
            _POWER_SSCALE,
        )
    u = [sum(S[i][j] for j in range(d)) for i in range(d)]
    umax = max(abs(x) for x in u)
    v = [
        math.floor(float(x) / float(umax) * float(_POWER_VSCALE) + 0.5)
        for x in u
    ]
    jstar = min(range(d), key=lambda i: (-abs(v[i]), i))
    if v[jstar] < 0:
        v = [-x for x in v]
    return spark.createDataFrame(
        [(i, int(v[i])) for i in range(d)], "dim int, loading_scaled bigint"
    )


@query(
    "embed_centroids_report",
    oracle="""
WITH dims AS (
  SELECT label, generate_subscripts(embedding, 1) AS pos,
         unnest(embedding) AS x
  FROM embeddings
)
SELECT label, CAST(pos AS INTEGER) AS pos,
       CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_micro,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
             / 1000000 / COUNT(*) AS mean_x
FROM dims
WHERE pos <= 8
GROUP BY label, pos
""",
)
def embed_centroids_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid report over the first 8 embedding
    dimensions (the embedding-space health check before clustering /
    dedup thresholds are chosen): exact integer micro-unit sums make
    the per-dimension means order-independent and hash-stable —
    reported UNROUNDED, because identical-integer division is already
    bit-identical while round() half-tie behavior differs per engine
    (FLOOR(x*1e6 + 0.5), not ROUND — float32 values times 1e6 can
    land exactly on .5 and the engines break round-half ties
    differently, and the float32 element must be cast to DOUBLE
    BEFORE the multiply — Spark evaluates float*int in float32 while
    DuckDB promotes, measured one micro-unit apart at sf0.001); one
    posexplode + partial/final aggregate, output one row per
    (label, dim) so the driver's scalar-only canonicalizer applies."""
    e = load(spark, sf_dir, "embeddings")
    dims = e.select(
        "label", F.posexplode("embedding").alias("pos0", "x")
    ).filter(F.col("pos0") < 8)
    micro = F.sum(F.expr("CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)"))
    return (
        dims.groupBy("label", (F.col("pos0") + 1).alias("pos"))
        .agg(
            micro.alias("sum_micro"),
            F.count(F.lit(1)).alias("n"),
            # UNROUNDED: the division of identical exact integers is
            # bit-identical on both engines, while round(x, 6) breaks
            # ties differently when sum/n lands exactly on a half
            # micro-unit (seen at sf0.1: 616992/192 -> 0.0032135)
            (micro.cast("double") / 1000000 / F.count(F.lit(1))).alias(
                "mean_x"
            ),
        )
        .select("label", F.col("pos").cast("int").alias("pos"),
                "sum_micro", "n", "mean_x")
    )

# ---------------------------------------------------------------- PQ

PQ_M = 8          # subspaces (64-dim -> 8 x 8)
PQ_K = 16         # centroids per subspace (4-bit codes)
PQ_ITERS = 10     # fixed Lloyd iterations (deterministic)
PQ_SAMPLE = 2048  # training sample cap (first N by vec_id)


def _pq_fold_d2(sub, cent):
    """(n, K) squared distances accumulated DIM BY DIM (elementwise
    += over the dsub axis) — per (row, centroid) this is the strict
    left fold over dimensions, the same IEEE sequence as the
    oracle's list_sum fold, while staying numpy-vectorized across
    rows and centroids."""
    import numpy as np

    n, dsub = sub.shape
    d2 = np.zeros((n, len(cent)), dtype=np.float64)
    for j in range(dsub):
        diff = sub[:, j, None] - cent[None, :, j]
        d2 += diff * diff
    return d2


def pq_train_codebooks(spark: SparkSession, e: DataFrame):
    """Train product-quantization codebooks on the driver from a
    DETERMINISTIC sample (first PQ_SAMPLE vectors by vec_id): per
    subspace, PQ_ITERS Lloyd iterations seeded from the first PQ_K
    sample rows. The codebook is O(M*K*dim/M) floats — tiny — while
    the training sample is bounded, so this is the standard
    train-small / encode-everywhere split ANN systems use at scale.
    Returns a numpy array (M, K, dsub).

    Fold-exact since round 5 (enables the embed_pq oracle): the
    assignment distances accumulate dim-by-dim (_pq_fold_d2) and the
    centroid means are strict left folds over members in vec_id
    order divided once by the count — both bit-identical to the
    DuckDB replay (list_sum(list(x ORDER BY ...)) / n), so every
    Lloyd selection the trainer makes is engine-independent."""
    import numpy as np

    sample = (
        e.orderBy("vec_id").limit(PQ_SAMPLE).select("embedding").collect()
    )
    X = np.array([r[0] for r in sample], dtype=np.float64)
    n, dim = X.shape
    dsub = dim // PQ_M
    books = np.empty((PQ_M, PQ_K, dsub))
    for m in range(PQ_M):
        sub = X[:, m * dsub : (m + 1) * dsub]
        cent = sub[:PQ_K].copy()
        for _ in range(PQ_ITERS):
            assign = _pq_fold_d2(sub, cent).argmin(axis=1)
            for k in range(PQ_K):
                idx = np.flatnonzero(assign == k)
                if len(idx):
                    # strict left-fold mean in vec_id (= sample) order
                    for j in range(dsub):
                        s = 0.0
                        for i in idx:
                            s += float(sub[i, j])
                        cent[k, j] = s / len(idx)
        books[m] = cent
    return books


def _pq_oracle() -> str:
    """Replay the ENTIRE PQ pipeline in DuckDB: the first-2048
    training sample, PQ_K-row seeding, PQ_ITERS unrolled Lloyd
    iterations (fold-exact distances, fold-exact member means in
    vec_id order, empty clusters keep their centroid), then the
    fold-exact encode of every vector. All 8 subspaces run in ONE
    keyed chain (cells keyed by m — the multi-solve trick from the
    Gauss/multi-source-BFS oracles)."""
    dsub = 64 // PQ_M

    def d2(a: str, c: str) -> str:
        return (
            f"list_sum(list_transform(generate_series(1, {dsub}), "
            f"j -> (CAST({a}[j] AS DOUBLE) - {c}[j]) "
            f"* (CAST({a}[j] AS DOUBLE) - {c}[j])))"
        )

    parts = [
        f"""pqs AS MATERIALIZED (
  SELECT vec_id, embedding,
         CAST(ROW_NUMBER() OVER (ORDER BY vec_id) AS INTEGER) - 1 AS pos
  FROM (SELECT vec_id, embedding FROM embeddings
        ORDER BY vec_id LIMIT {PQ_SAMPLE})
)""",
        f"""psub AS MATERIALIZED (
  SELECT vec_id, pos, m,
         embedding[m * {dsub} + 1 : m * {dsub} + {dsub}] AS s
  FROM pqs CROSS JOIN (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m)
)""",
        f"""pc0 AS MATERIALIZED (
  SELECT m, pos AS k,
         list_transform(s, x -> CAST(x AS DOUBLE)) AS c
  FROM psub WHERE pos < {PQ_K}
)""",
    ]
    for r in range(1, PQ_ITERS + 1):
        parts.append(
            f"""pa{r} AS MATERIALIZED (
  SELECT vec_id, m, s, k FROM (
    SELECT b.vec_id, b.m, b.s, c.k,
           ROW_NUMBER() OVER (PARTITION BY b.vec_id, b.m
                              ORDER BY {d2('b.s', 'c.c')} ASC, c.k ASC) AS rn
    FROM psub b JOIN pc{r - 1} c ON c.m = b.m) WHERE rn = 1
)"""
        )
        parts.append(
            f"""pc{r} AS MATERIALIZED (
  SELECT cm.m, cm.k, COALESCE(n.c, cm.c) AS c
  FROM pc{r - 1} cm LEFT JOIN (
    SELECT m, k,
           list_transform(generate_series(1, {dsub}),
             j -> list_sum(list_transform(ms, v -> CAST(v[j] AS DOUBLE)))
                  / len(ms)) AS c
    FROM (SELECT m, k, list(s ORDER BY vec_id) AS ms
          FROM pa{r} GROUP BY m, k)
  ) n ON n.m = cm.m AND n.k = cm.k
)"""
        )
    parts.append(
        f"""penc AS MATERIALIZED (
  SELECT vec_id, m, k, d2 FROM (
    SELECT b.vec_id, b.m, c.k, {d2('b.s', 'c.c')} AS d2,
           ROW_NUMBER() OVER (PARTITION BY b.vec_id, b.m
                              ORDER BY {d2('b.s', 'c.c')} ASC, c.k ASC) AS rn
    FROM (SELECT vec_id, m,
                 embedding[m * {dsub} + 1 : m * {dsub} + {dsub}] AS s
          FROM embeddings
          CROSS JOIN (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m)) b
    JOIN pc{PQ_ITERS} c ON c.m = b.m) WHERE rn = 1
)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT vec_id,
       string_agg(CAST(k AS VARCHAR), ',' ORDER BY m) AS codes,
       round(sqrt(list_sum(list(d2 ORDER BY m))), 6) AS recon_err
FROM penc GROUP BY vec_id
"""
    )


@query("embed_pq", oracle=_pq_oracle())
def embed_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization of the embedding column — the third
    compression tier next to embed_quantize (scalar int8) and
    sim_search_ivf (coarse cells): 8 subspaces x 16 centroids = 8
    4-bit codes per 64-dim vector (64x smaller than float64). The
    tiny trained codebook is broadcast; encoding is an Arrow-batched
    narrow map next to the data (argmin over 16 centroids per
    subspace — vectorized numpy, no shuffle, no driver round-trips
    beyond the bounded training sample). Emits each vector's code
    word and exact reconstruction error; the corpus-level MSE is the
    quality metric ANN deployments track. Deterministic: fixed
    sample, fixed iterations, ties to the lowest centroid index.
    Hash-checked since round 5 (was rows-only): trainer and encoder
    are fold-exact (_pq_fold_d2 / left-fold means), so the DuckDB
    oracle replays seeding, all PQ_ITERS Lloyd rounds, and the
    encode bit for bit (_pq_oracle); rounding happens JVM-side
    (F.round == DuckDB round, half away from zero)."""
    import numpy as np
    import pandas as pd

    e = load(spark, sf_dir, "embeddings")
    books = pq_train_codebooks(spark, e)
    bks = spark.sparkContext.broadcast(books)

    def encode(batches):
        B = bks.value
        m_, k_, dsub = B.shape
        for pdf in batches:
            X = np.array(list(pdf["embedding"]), dtype=np.float64)
            codes = np.empty((len(X), m_), dtype=np.int64)
            err = np.zeros(len(X))
            for m in range(m_):
                sub = X[:, m * dsub : (m + 1) * dsub]
                d2 = _pq_fold_d2(sub, B[m])
                a = d2.argmin(axis=1)
                codes[:, m] = a
                # += over m = left fold in subspace order, matching
                # the oracle's list_sum(list(d2 ORDER BY m))
                err += d2[np.arange(len(X)), a]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "codes": [
                        ",".join(str(c) for c in row) for row in codes
                    ],
                    "recon_err": np.sqrt(err),
                }
            )

    return (
        e.select("vec_id", "embedding")
        .mapInPandas(encode, "vec_id bigint, codes string, recon_err double")
        .withColumn("recon_err", F.round("recon_err", 6))
    )


@query(
    "corpus_diversity_by_source",
    oracle=f"""
WITH cand AS MATERIALIZED (
  SELECT d.source, e.vec_id, e.embedding
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
  WHERE e.vec_id % 5 = 0
), pairs AS (
  SELECT a.source, {V.duck_l2_dist('a.embedding', 'b.embedding')} AS dist
  FROM cand a JOIN cand b
    ON a.source = b.source AND a.vec_id < b.vec_id
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       round(MIN(dist), 6) AS edge_div,
       round(SUM(dist) / COUNT(*), 6) AS mean_pair_dist
FROM pairs GROUP BY source
""",
)
def corpus_diversity_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source embedding-diversity report — the reference's
    remote-edge / mean-pairwise objectives applied as a CORPUS
    CURATION metric: a source whose documents cluster tightly (low
    edge_div, low mean distance) contributes redundant data, the
    signal a diversity-aware mixing policy weights down. Computed
    over the deterministic vec_id % 5 candidate slice per source
    (the div_eval discipline); at 100 TB the slice is replaced by
    each source's MR coreset (mr_coreset machinery) so the per-source
    pair join stays bounded — the objective and this report's shape
    are unchanged. Distances are the shared left-fold expression,
    so MIN is bit-exact and the mean's last-ulp summation noise is
    absorbed by round(.,6) on O(1) magnitudes."""
    d = load(spark, sf_dir, "documents")
    e = load(spark, sf_dir, "embeddings").filter("vec_id % 5 = 0")
    cand = d.join(e, d.doc_id == e.vec_id).select("source", "vec_id", "embedding")
    a = cand.select("source", F.col("vec_id").alias("va"), F.col("embedding").alias("ea"))
    b = cand.select("source", F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"))
    pairs = (
        a.join(b, "source")
        .filter(F.col("va") < F.col("vb"))
        .select("source", V.l2_dist("ea", "eb").alias("dist"))
    )
    return pairs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.min("dist"), 6).alias("edge_div"),
        F.round(F.sum("dist") / F.count(F.lit(1)), 6).alias("mean_pair_dist"),
    )


def _diverse_per_source_oracle(k: int = 4) -> str:
    """Lockstep unrolled farthest-first PER SOURCE GROUP (the
    _coreset_mr_oracle recurrence keyed by source instead of the
    hash partition): seed = lowest vec_id of each source's embedded
    docs, k-1 rounds of per-group argmax (ROW_NUMBER over source,
    min-distance DESC, vec_id ASC) + least() relaxation."""
    dist = V.duck_l2_dist
    head = f"""
WITH g AS MATERIALIZED (
  SELECT d.source, e.vec_id, e.embedding
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
p0 AS MATERIALIZED (
  SELECT source, vec_id, embedding, CAST(0 AS INTEGER) AS sel_order FROM (
    SELECT source, vec_id, embedding,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY vec_id) AS rn
    FROM g) WHERE rn = 1),
s0 AS MATERIALIZED (
  SELECT g.source, g.vec_id, g.embedding,
         {dist('g.embedding', 'c.embedding')} AS md
  FROM g JOIN p0 c ON c.source = g.source WHERE g.vec_id <> c.vec_id)"""
    parts = [head]
    for r in range(1, k):
        parts.append(f"""
, p{r} AS MATERIALIZED (
  SELECT source, vec_id, embedding, md, CAST({r} AS INTEGER) AS sel_order FROM (
    SELECT source, vec_id, embedding, md,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY md DESC, vec_id ASC) AS rn
    FROM s{r - 1}) WHERE rn = 1)""")
        if r < k - 1:
            parts.append(f"""
, s{r} AS MATERIALIZED (
  SELECT s.source, s.vec_id, s.embedding,
         least(s.md, {dist('s.embedding', 'c.embedding')}) AS md
  FROM s{r - 1} s JOIN p{r} c ON c.source = s.source
  WHERE s.vec_id <> c.vec_id)""")
    sel = [
        "SELECT source, CAST(0 AS INTEGER) AS sel_order, vec_id, "
        "CAST(0.0 AS DOUBLE) AS dist_when_chosen FROM p0"
    ]
    for r in range(1, k):
        sel.append(
            f"SELECT source, CAST({r} AS INTEGER), vec_id, round(md, 6) FROM p{r}"
        )
    parts.append("\n" + " UNION ALL ".join(sel))
    return "".join(parts)


@query("select_diverse_per_source", oracle=_diverse_per_source_oracle())
def select_diverse_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware sample selection: farthest-first k=4 WITHIN
    EACH SOURCE — the grouped form of div_gmm that a curation
    pipeline uses to pick maximally-spread exemplar documents per
    source (dedup's complement: instead of dropping near-dups, pick
    the spread). Engine shape: one shuffle by source, then an Arrow
    applyInPandas greedy per group using the fold-exact
    vector.farthest_first, so every group's selection
    matches the unrolled SQL replay (see
    _diverse_per_source_oracle). At 100 TB groups are processed in
    parallel and each group's kernel is O(n_g * k) vectorized
    numpy."""
    import pandas as pd

    d = load(spark, sf_dir, "documents")
    e = load(spark, sf_dir, "embeddings")
    g = d.join(e, d.doc_id == e.vec_id).select("source", "vec_id", "embedding")

    def ff(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        vecs = [list(map(float, v)) for v in pdf["embedding"]]
        ids = list(pdf["vec_id"])
        src = pdf["source"].iloc[0]
        chosen, d2 = V.farthest_first(vecs, 4)
        out = [
            (src, rank, int(ids[i]), d ** 0.5)
            for rank, (i, d) in enumerate(zip(chosen, d2))
        ]
        return pd.DataFrame(
            out, columns=["source", "sel_order", "vec_id", "dist_when_chosen"]
        )

    res = g.groupBy("source").applyInPandas(
        ff, "source string, sel_order int, vec_id bigint, dist_when_chosen double"
    )
    return res.select(
        "source", "sel_order", "vec_id",
        F.round("dist_when_chosen", 6).alias("dist_when_chosen"),
    )


@query(
    "corpus_length_histogram",
    oracle="""
WITH b AS (
  SELECT source, lang, length(bin(n_chars)) AS bucket,
         CAST(n_chars AS BIGINT) AS n_chars
  FROM documents
)
SELECT source, lang, CAST(bucket AS INTEGER) AS log2_bucket,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM b GROUP BY source, lang, bucket
""",
)
def corpus_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length profile per (source, lang) in log2 buckets —
    the token-budget planning table (how much of each corpus slice is
    short-tail vs long-tail before packing). Bucket id = bit length
    of n_chars: an exact integer exponent, no log() call, so no libm
    divergence can move a document across a bucket boundary. One
    partial+final aggregate over the documents scan; the output is
    bounded by sources x langs x 64 buckets."""
    d = load(spark, sf_dir, "documents")
    b = d.select(
        "source",
        "lang",
        F.length(F.bin("n_chars")).cast("int").alias("log2_bucket"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
    )
    return b.groupBy("source", "lang", "log2_bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.min("n_chars").cast("bigint").alias("min_chars"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
    )
