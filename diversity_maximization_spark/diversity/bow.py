"""Bag-of-words points (SURVEY.md §1.1: the reference's sparse
`ArrayBagOfWords` substrate, used for its musiXmatch song
experiments). Documents become fixed-dim vectors by feature hashing —
word -> first-32-bits-of-md5(word) % dim bucket, counts summed per
bucket — entirely JVM-side (md5/conv/explode/groupBy/
map_from_entries/transform), so the vectorization is one shuffle of
(doc, bucket) pairs and scales like any aggregation. md5 (not
xxhash64) is deliberate: the hash family is bit-identical in DuckDB,
which makes bow_vectorize a fully hash-checked oracle key instead of
rows-only. The hashed vectors then flow through the SAME diversity
pipeline as dense embeddings (GMM, coresets, evaluators) — exactly
how the reference treats BoW points as just another metric space.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import vector as V
from ..registry import query
from ..sources import load
from . import kernel as K
from .coreset import collect_coreset, mr_coreset

BOW_DIM = 64


def bow_vectors(d: DataFrame, dim: int = BOW_DIM) -> DataFrame:
    """(doc_id, embedding array<double>, label) — feature-hashed word
    counts; label = a hash bucket of `lang` so the matroid machinery
    works unchanged on BoW points."""
    def h32(col):
        return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")

    words = d.select(
        "doc_id",
        "lang",
        F.explode(F.split("text", " ")).alias("word"),
    ).filter(F.length("word") > 0)
    buckets = words.groupBy(
        "doc_id",
        "lang",
        (h32(F.col("word")) % dim).cast("int").alias("bucket"),
    ).agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    dense = (
        buckets.groupBy("doc_id", "lang")
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("bucket", "cnt")))
            ).alias("m")
        )
        .select(
            F.col("doc_id").alias("vec_id"),
            F.expr(
                f"transform(sequence(0, {dim - 1}), "
                f"i -> coalesce(element_at(m, i), CAST(0 AS DOUBLE)))"
            ).alias("embedding"),
            (h32(F.col("lang")) % 4).cast("int").alias("label"),
        )
    )
    return dense


def _bow_hex32_sql(arg: str) -> str:
    """DuckDB BIGINT expression for the first 32 bits of md5(arg) —
    identical to Spark's conv(substr(md5(x), 1, 8), 16, 10)."""
    return "(" + " + ".join(
        f"(strpos('0123456789abcdef', substr(md5({arg}), {k}, 1)) - 1)"
        f" * {16 ** (8 - k)}"
        for k in range(1, 9)
    ) + ")"


@query(
    "bow_vectorize",
    oracle=f"""
WITH words AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
  FROM documents
), w2 AS (
  SELECT * FROM words WHERE length(word) > 0
), buckets AS (
  SELECT doc_id, lang,
         CAST({_bow_hex32_sql('word')} % {BOW_DIM} AS INT) AS bucket,
         CAST(COUNT(*) AS DOUBLE) AS cnt
  FROM w2 GROUP BY 1, 2, 3
), per_doc AS (
  SELECT doc_id, lang,
         CAST(COUNT(*) AS INTEGER) AS nnz,
         list(cnt * cnt ORDER BY bucket) AS sq
  FROM buckets GROUP BY 1, 2
)
SELECT doc_id AS vec_id,
       CAST({_bow_hex32_sql('lang')} % 4 AS INT) AS label,
       nnz,
       round(sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), sq),
                              (a, x) -> a + x)), 6) AS l2_norm
FROM per_doc
""",
)
def bow_vectorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents -> feature-hashed BoW vectors (norm + nnz exposed so
    the driver check sees stable values). Hash-checked end to end:
    the md5-based bucket family is bit-identical in DuckDB (nibble
    arithmetic, see _bow_hex32_sql), and the l2 fold over the dense
    64-slot array in index order equals the oracle's fold over the
    present buckets in ascending bucket order because the empty
    slots' exact +0.0 terms are IEEE no-ops."""
    d = load(spark, sf_dir, "documents")
    v = bow_vectors(d)
    return v.select(
        "vec_id",
        "label",
        F.expr(
            "CAST(aggregate(transform(embedding, x -> CAST(x > 0 AS INT)), 0, (s, b) -> s + b) AS INT)"
        ).alias("nnz"),
        F.round(
            F.expr(
                "sqrt(aggregate(transform(embedding, x -> x * x), "
                "CAST(0 AS DOUBLE), (s, v) -> s + v))"
            ),
            6,
        ).alias("l2_norm"),
    )


_BOW_SOURCE_SQL = f"""
WITH words AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
  FROM documents
), w2 AS (
  SELECT * FROM words WHERE length(word) > 0
), buckets AS (
  SELECT doc_id, lang,
         CAST({_bow_hex32_sql('word')} % {BOW_DIM} AS INT) AS bucket,
         CAST(COUNT(*) AS DOUBLE) AS cnt
  FROM w2 GROUP BY 1, 2, 3
), per_doc AS (
  SELECT doc_id, lang,
         list(bucket ORDER BY bucket) AS bl,
         list(cnt ORDER BY bucket) AS cl
  FROM buckets GROUP BY 1, 2
)
SELECT doc_id AS vec_id,
       list_transform(generate_series(0, {BOW_DIM - 1}),
         i -> coalesce(cl[list_position(bl, i)], CAST(0 AS DOUBLE)))
         AS embedding,
       CAST({_bow_hex32_sql('lang')} % 4 AS INT) AS label
FROM per_doc
"""


def _gmm_bow_oracle(k: int = 8) -> str:
    """Unrolled replay of the full BoW diversity pipeline: dense
    feature-hashed vectors in SQL (md5 nibble buckets -> 64-slot
    dense list), the MapReduce coreset machinery over them
    (euclidean, the _coreset_mr_oracle head), then k-1 greedy
    COSINE farthest-first rounds over the collected members.
    Vectors are integer counts, so the normalization norms
    (sqrt of an exact integer sum) are bit-identical to numpy's;
    the normalized dot differs only in the summation tail, absorbed
    by round(.,6) on the reported distance."""
    from .queries import _coreset_mr_oracle

    base = _coreset_mr_oracle(p=4, kprime=16, m=1, seed=42,
                              source_sql=_BOW_SOURCE_SQL)
    head = base[: base.rindex("\nSELECT c.part, c.vec_id,")]

    def cosd(a: str, b: str) -> str:
        return f"greatest(1 - {V.duck_dot(a, b)}, 0.0)"

    parts = [head, f"""
, dmem AS MATERIALIZED (
  SELECT d.vec_id, e.embedding
  FROM delegates d JOIN e ON e.part = d.part AND e.vec_id = d.vec_id),
mem AS MATERIALIZED (
  SELECT vec_id, {V.duck_l2_normalize('embedding')} AS nv
  FROM (SELECT vec_id, embedding FROM centers UNION ALL SELECT * FROM dmem)),
g0 AS (SELECT vec_id, nv FROM mem ORDER BY vec_id LIMIT 1),
t0 AS MATERIALIZED (
  SELECT m.vec_id, m.nv, {cosd('m.nv', 'g.nv')} AS md
  FROM mem m CROSS JOIN g0 g WHERE m.vec_id <> g.vec_id)"""]
    for r in range(1, k):
        parts.append(f"""
, g{r} AS (SELECT vec_id, nv, md FROM t{r - 1}
           ORDER BY md DESC, vec_id ASC LIMIT 1)""")
        if r < k - 1:
            parts.append(f"""
, t{r} AS MATERIALIZED (
  SELECT t.vec_id, t.nv, least(t.md, {cosd('t.nv', 'g.nv')}) AS md
  FROM t{r - 1} t CROSS JOIN g{r} g WHERE t.vec_id <> g.vec_id)""")
    sel = ["SELECT CAST(0 AS INTEGER) AS sel_order, vec_id AS doc_id, "
           "CAST(0.0 AS DOUBLE) AS cos_dist_when_chosen FROM g0"]
    for r in range(1, k):
        sel.append(f"SELECT CAST({r} AS INTEGER), vec_id, round(md, 6) FROM g{r}")
    parts.append("\n" + " UNION ALL ".join(sel))
    return "".join(parts)


@query("div_gmm_bow", oracle=_gmm_bow_oracle())
def div_gmm_bow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference musiXmatch parity: diversity maximization over BoW
    points under COSINE distance — coreset the hashed vectors (the
    same MapReduce kernel as dense embeddings), then cosine GMM k=8
    on the collected coreset. Hash-checked end to end: the oracle
    replays vectorization, coreset, and the cosine greedy
    (see _gmm_bow_oracle)."""
    d = load(spark, sf_dir, "documents")
    v = bow_vectors(d)
    cs = mr_coreset(v, p=4, kprime=16, m=1)
    ids, labels, X, w = collect_coreset(cs)
    chosen, dist_when, _ = K.farthest_first(X, 8, start=0, metric="cosine")
    rows = [
        (rank, int(ids[c]), float(dist_when[rank]))
        for rank, c in enumerate(chosen)
    ]
    return spark.createDataFrame(
        rows, "sel_order int, doc_id bigint, cos_dist_when_chosen double"
    ).select(
        "sel_order",
        "doc_id",
        F.round("cos_dist_when_chosen", 6).alias("cos_dist_when_chosen"),
    )
