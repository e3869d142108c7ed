"""Pre-training corpus hygiene operators (SURVEY.md §2.2-L
extensions): benchmark decontamination, sequence packing, and
maximal-marginal-relevance (MMR) subset selection.

- decontam_ngram: the GPT-3/PaLM-style decontamination pass — flag
  training documents that share at least one word n-gram with a
  held-out benchmark set (here: the docs of source 'src0', a 5%
  slice, standing in for an eval suite). At 100 TB the benchmark
  side is tiny (eval suites are MBs), so its distinct shingle set
  BROADCASTS and the train side never shuffles — the whole pass
  pipelines inside the train scan.
- pack_sequences: concat-then-chunk sequence packing — documents in
  doc_id order are laid head-to-tail and cut into fixed token-budget
  sequences; each doc reports the sequence it starts in and its
  offset. The global running sum is computed as a two-phase scan
  (per-range-partition sums collected — one tiny row per partition —
  then broadcast back as prefix offsets), NEVER a single-partition
  window, so it scales to any corpus size.
- select_mmr: greedy MMR (Carbonell & Goldstein 1998) over the
  embedding table: rank = argmax lambda*rel - (1-lambda)*max-sim to
  the already-selected set. Same distributed-greedy shape as
  diversity/gmm.py: a cached (id, vec, rel, max_sim) state, one
  narrow argmax job per pick, max_sim updated against the single new
  pick with greatest(); rows-only (iterative, not SQL-expressible).
"""

from __future__ import annotations

import math
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import vector as V
from ..registry import query
from ..sources import load
from .dedup import SHINGLE, shingles_df

# Held-out "benchmark" slice: one source out of 20 (5% of docs).
_BENCH_SOURCE = "src0"

# Token budget per packed sequence. Docs are 20-90 tokens, so each
# sequence packs ~3-10 docs at every fixture sf.
_SEQ_BUDGET = 256


@query(
    "decontam_ngram",
    oracle=f"""
WITH words AS (
  SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents
), sh AS (
  SELECT DISTINCT doc_id, source, shingle FROM (
    SELECT doc_id, source,
           unnest(list_transform(
             generate_series(1, greatest(len(ws) - {SHINGLE - 1}, 0)),
             i -> array_to_string(ws[i:i+{SHINGLE - 1}], ' '))) AS shingle
    FROM words)
  WHERE length(shingle) > 0
), bench AS (
  SELECT DISTINCT shingle FROM sh WHERE source = '{_BENCH_SOURCE}'
)
SELECT s.doc_id, COUNT(*) AS n_shared
FROM sh s JOIN bench b ON s.shingle = b.shingle
WHERE s.source <> '{_BENCH_SOURCE}'
GROUP BY s.doc_id
""",
)
def decontam_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: for every training doc (source !=
    'src0') count its distinct {SHINGLE}-gram shingles that also
    occur anywhere in the benchmark slice (source == 'src0'). A doc
    with n_shared > 0 is contaminated and would be dropped before
    training; the count grades severity. Plan: benchmark shingles
    dedup to a small set and broadcast into a hash join against the
    train shingles — no shuffle of the train side at any scale."""
    d = load(spark, sf_dir, "documents")
    sh = shingles_df(d.select("doc_id", "text")).join(
        d.select("doc_id", "source"), "doc_id"
    )
    bench = (
        sh.filter(F.col("source") == _BENCH_SOURCE)
        .select("shingle")
        .distinct()
    )
    return (
        sh.filter(F.col("source") != _BENCH_SOURCE)
        .join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


@query(
    "pack_sequences",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
), run AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS prev
  FROM toks
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(prev // {_SEQ_BUDGET} AS BIGINT) AS seq_id,
       CAST(prev % {_SEQ_BUDGET} AS BIGINT) AS seq_offset
FROM run
""",
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: documents in doc_id order
    are laid head-to-tail into a single token stream cut every
    {_SEQ_BUDGET} tokens; each doc reports (seq_id, seq_offset) of
    its first token — exactly the packing step of a pre-training
    tokenizer pipeline (a doc may straddle a boundary; it belongs to
    the sequence it starts in).

    The running sum is a two-phase scan: range-repartition by doc_id
    (partition i holds strictly lower ids than i+1), per-partition
    token sums collected to the driver (ONE ROW per partition), the
    exclusive prefix broadcast back, and a per-partition window adds
    the local running sum. No single-partition global window — at
    100 TB each partition scans once in parallel and the driver sees
    only num_partitions integers."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("n_tokens")
    )
    nparts = max(toks.rdd.getNumPartitions(), 1)
    ranged = toks.repartitionByRange(nparts, "doc_id").withColumn(
        "pid", F.spark_partition_id()
    )
    ranged = ranged.cache()
    part_sums = {
        r["pid"]: r["s"]
        for r in ranged.groupBy("pid").agg(F.sum("n_tokens").alias("s")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(part_sums):
        offsets[pid] = acc
        acc += part_sums[pid]
    off_df = spark.createDataFrame(
        [(pid, off) for pid, off in offsets.items()], "pid int, part_off bigint"
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("pid").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    prev = (F.col("part_off") + F.sum("n_tokens").over(w) - F.col("n_tokens"))
    return (
        ranged.join(F.broadcast(off_df), "pid")
        .select(
            "doc_id",
            "n_tokens",
            (prev / _SEQ_BUDGET).cast("bigint").alias("seq_id"),
            (prev % _SEQ_BUDGET).cast("bigint").alias("seq_offset"),
        )
    )


_MMR_K = 10
_MMR_LAMBDA = 0.5


def mmr_select(
    spark: SparkSession,
    sf_dir: str,
    k: int = _MMR_K,
    lam: float = _MMR_LAMBDA,
    batch: int | None = None,
):
    """MMR over the fixture embeddings table — see ``mmr_over``."""
    return mmr_over(load(spark, sf_dir, "embeddings"), k=k, lam=lam, batch=batch)


def mmr_over(
    df: DataFrame,
    k: int = _MMR_K,
    lam: float = _MMR_LAMBDA,
    batch: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Greedy maximal-marginal-relevance selection of k vectors:
    pick argmax of lambda*rel(v) - (1-lambda)*max_{s in S} cos(v, s),
    where rel(v) is cosine similarity to the corpus mean embedding
    (computed with exact integer micro-unit sums so the query vector
    — and hence every pick — is deterministic under any row order).

    Batched candidate refill (the diversity/gmm.py:82 pattern, r2
    VERDICT item 4 — previously one Spark job per pick): each job
    collects the top-m rows by CURRENT score, then greedy selection
    continues locally while it is provably global. The proof carries
    over from GMM because MMR scores are monotone NON-INCREASING
    under updates (max_sim only grows, lam and 1-lam are
    nonnegative): every uncollected point scores <= the m-th
    collected score (the threshold), so a locally refined pick whose
    score stays STRICTLY above the threshold cannot be beaten or
    tied from outside (strictness protects the min-id tie-break).
    The first pick of each round needs no threshold test — before
    any in-batch refinement the sort order is the global one. Local
    refinement uses the Python folds (bit-identical), so picks
    and reported scores equal the one-job-per-pick formulation —
    A/B-checked in tests/test_llm.py with batch=1. k=10 now takes
    1-2 jobs instead of 10."""
    e = df.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    # Deterministic mean: per-dimension exact integer sum of
    # round(x * 1e6), divided by count — order-independent.
    dim_rows = (
        e.select(F.posexplode("embedding").alias("pos", "x"))
        .groupBy("pos")
        .agg(
            F.sum(F.expr("CAST(ROUND(x * 1000000) AS BIGINT)")).alias("s"),
            F.count(F.lit(1)).alias("c"),
        )
        .orderBy("pos")
        .collect()
    )
    qvec = [r["s"] / 1e6 / r["c"] for r in dim_rows]

    def cos_to(vec, norm: float) -> F.Column:
        # dot / (sqrt(sqn) * norm): the local refinement's order
        return V.dot("embedding", V.lit_array_sql(vec)) / (
            F.sqrt(V.sq_norm("embedding")) * F.lit(norm)
        )

    state = e.select(
        "vec_id",
        "embedding",
        cos_to(qvec, V.fold_dot(qvec, qvec) ** 0.5).alias("rel"),
        F.lit(-1.0).alias("max_sim"),
    ).cache()
    m = batch if batch is not None else max(64, 8 * k)
    picks = []
    prev = None
    while len(picks) < k:
        score = lam * F.col("rel") - (1 - lam) * F.col("max_sim")
        rows = (
            state.filter(~F.col("vec_id").isin([p[1] for p in picks]))
            .orderBy(score.desc(), F.col("vec_id"))
            .limit(m)
            .collect()
        )
        if not rows:
            break
        exhaustive = len(rows) < m
        last = rows[-1]
        threshold = lam * last["rel"] - (1 - lam) * last["max_sim"]
        cand = [
            [r["vec_id"], float(r["rel"]), float(r["max_sim"]), list(r["embedding"])]
            for r in rows
        ]
        new_picked = []  # (vec, qn) applied back to the DataFrame state
        while len(picks) < k and cand:
            j = max(
                range(len(cand)),
                key=lambda i: (lam * cand[i][1] - (1 - lam) * cand[i][2], -cand[i][0]),
            )
            cid, crel, cms, cvec = cand[j]
            sc = lam * crel - (1 - lam) * cms
            if new_picked and not exhaustive and not (sc > threshold):
                break  # an uncollected point could beat or tie this pick
            picks.append((len(picks), cid, crel, sc))
            del cand[j]
            qn = V.fold_dot(cvec, cvec) ** 0.5
            new_picked.append((cvec, qn))
            for c in cand:
                cos = V.fold_dot(c[3], cvec) / (
                    math.sqrt(V.fold_dot(c[3], c[3])) * qn
                )
                if cos > c[2]:
                    c[2] = cos
        if len(picks) < k and new_picked:
            col = F.col("max_sim")
            for vec, qn in new_picked:
                col = F.greatest(col, cos_to(vec, qn))
            nxt = state.withColumn("max_sim", col).cache()
            if prev is not None:
                prev.unpersist()
            prev, state = state, nxt
    state.unpersist()
    if prev is not None:
        prev.unpersist()
    return picks


def _mmr_oracle(k: int = _MMR_K) -> str:
    """Unrolled greedy MMR in DuckDB, mirroring ``mmr_over`` IEEE op
    for op: the query vector from exact integer micro-unit sums with
    the same `(s / 1e6) / c` division order; rel and every pairwise
    cosine as `dot / (sqrt(sqn) * qn)` left folds (list_sum is a
    sequential fold, bit-matching Spark's aggregate(); CPython's
    `** 0.5` and sqrt() are both correctly rounded, so qn matches);
    score = 0.5*rel - 0.5*max_sim with exact 0.5 literals. Each round
    picks argmax (score DESC, vec_id ASC) and drops the picked row,
    exactly the engine's excluded-ids discipline. MATERIALIZED stops
    the per-round chain from inlining exponentially."""
    def nrm(v: str) -> str:
        return f"sqrt({V.duck_sq_norm(v)})"

    head = f"""
WITH e AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
dims AS (SELECT unnest(generate_series(1, (SELECT max(len(embedding)) FROM e))) AS i),
q AS MATERIALIZED (
  SELECT i AS pos,
         SUM(CAST(round(CAST(e.embedding[i] AS DOUBLE) * 1000000) AS BIGINT)) AS s,
         COUNT(*) AS c
  FROM e CROSS JOIN dims GROUP BY i),
qv AS (SELECT list((s / 1000000.0) / c ORDER BY pos) AS v FROM q),
qn AS (SELECT {nrm('v')} AS n FROM qv),
s0 AS MATERIALIZED (
  SELECT e.vec_id, e.embedding,
         {V.duck_dot('e.embedding', 'qv.v')}
           / ({nrm('e.embedding')} * qn.n) AS rel,
         CAST(-1.0 AS DOUBLE) AS max_sim
  FROM e CROSS JOIN qv CROSS JOIN qn)"""
    parts = [head]
    for r in range(1, k + 1):
        parts.append(f"""
, p{r} AS MATERIALIZED (
  SELECT vec_id, embedding, rel, 0.5 * rel - 0.5 * max_sim AS mmr_score,
         {nrm('embedding')} AS pn
  FROM s{r - 1} ORDER BY 0.5 * rel - 0.5 * max_sim DESC, vec_id ASC LIMIT 1)""")
        if r < k:
            parts.append(f"""
, s{r} AS MATERIALIZED (
  SELECT s.vec_id, s.embedding, s.rel,
         greatest(s.max_sim,
           {V.duck_dot('s.embedding', 'p.embedding')}
           / ({nrm('s.embedding')} * p.pn)) AS max_sim
  FROM s{r - 1} s CROSS JOIN p{r} p WHERE s.vec_id <> p.vec_id)""")
    sel = " UNION ALL ".join(
        f"SELECT CAST({r - 1} AS INTEGER) AS sel_order, vec_id, rel, mmr_score FROM p{r}"
        for r in range(1, k + 1)
    )
    parts.append("\n" + sel)
    return "".join(parts)


@query("select_mmr", oracle=_mmr_oracle())
def select_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR selection of k=10 over the embeddings table — see
    ``mmr_select`` for the batched distributed-greedy plan.
    Hash-checked: the DuckDB oracle unrolls the identical greedy
    recurrence with bit-matching IEEE expression sequences
    (see _mmr_oracle) — raw doubles, no rounding tolerance needed."""
    picks = mmr_select(spark, sf_dir)
    return spark.createDataFrame(
        picks, "sel_order int, vec_id bigint, rel double, mmr_score double"
    )


# Portable multiplicative hash -> uniform [0,1) at 1e-9 resolution
# (same idiom as sample_hash_split; identical arithmetic both engines).
_MIX_U01 = "(((doc_id % 2147483648) * 2654435761 % 4294967296) / 4294967296.0)"


@query(
    "mix_sources",
    oracle=f"""
WITH counts AS (
  SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source
), target AS (
  SELECT 0.6 * MIN(n_s) AS t FROM counts
)
SELECT d.doc_id, d.source
FROM documents d
JOIN counts c ON d.source = c.source, target
WHERE {_MIX_U01} < CAST(target.t AS DOUBLE) / c.n_s
""",
)
def mix_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic source rebalancing (data mixing): downsample
    every source toward 60% of the smallest source's row count (the
    fixture corpus is balanced by construction, so a target BELOW the
    minimum is what makes the sampler actually fire), so the mixed
    corpus is ~uniform across sources — the per-source keep fraction
    is target/n_s and a doc survives iff its portable hash-uniform is
    below it. No RNG state: the same doc survives on any engine,
    partitioning, or replay. Plan: one tiny per-source count agg
    broadcasts back into a narrow filter — the corpus itself never
    shuffles, at any scale. (Approximate counts by design — the
    hash-threshold sampler is the layout-independent scale form; an
    exact-count variant would need a per-source row_number window.)"""
    d = load(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    target = 0.6 * counts.agg(F.min("n_s")).collect()[0][0]
    return (
        d.join(F.broadcast(counts), "source")
        .filter(
            F.expr(_MIX_U01) < F.lit(float(target)) / F.col("n_s")
        )
        .select("doc_id", "source")
    )


@query(
    "sample_temperature",
    oracle=f"""
WITH counts AS (
  SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source
), fixed AS (
  SELECT source, n_s,
         CAST(ROUND(sqrt(n_s) * 1000000) AS BIGINT) AS ss
  FROM counts
), tot AS (
  SELECT CAST(SUM(ss) AS BIGINT) AS s_sum, CAST(SUM(n_s) AS BIGINT) AS n_tot
  FROM fixed
)
SELECT d.doc_id, d.source
FROM documents d JOIN fixed f ON d.source = f.source, tot
WHERE {_MIX_U01} <
      least(1.0, (0.5 * n_tot) * (CAST(ss AS DOUBLE) / s_sum) / f.n_s)
""",
)
def sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-rebalanced source sampling (the multinomial
    p_s ∝ n_s^(1/T) upsampling used to flatten source distributions
    for pretraining), at T=2 so the exponent is sqrt — IEEE
    correctly-rounded in BOTH engines, unlike pow(x, 0.7) whose libm
    results may differ. Target total = 50% of the corpus; source s
    keeps min(1, target * q_s / n_s) of its docs where
    q_s = sqrt(n_s) / sum_t sqrt(n_t).

    Cross-engine determinism: the q_s denominator is a sum of
    IRRATIONAL doubles, and float summation order differs between
    engines — so the sqrt values are fixed to exact integer
    micro-units first and summed as BIGINTs (order-independent),
    then divided once. Keep/drop is the portable hash-uniform
    threshold (no RNG state, layout-independent). Plan: tiny
    per-source agg broadcasts back into a narrow filter — the corpus
    never shuffles."""
    d = load(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    fixed = counts.withColumn(
        "ss", F.expr("CAST(ROUND(sqrt(n_s) * 1000000) AS BIGINT)")
    )
    tot = fixed.agg(
        F.sum("ss").alias("s_sum"), F.sum("n_s").alias("n_tot")
    )
    rate = F.least(
        F.lit(1.0),
        (0.5 * F.col("n_tot"))
        * (F.col("ss").cast("double") / F.col("s_sum"))
        / F.col("n_s"),
    )
    return (
        d.join(F.broadcast(fixed), "source")
        .crossJoin(F.broadcast(tot))
        .filter(F.expr(_MIX_U01) < rate)
        .select("doc_id", "source")
    )


MIX_BUDGET_X = 2.0  # token budget = 2x the corpus
MIX_MAX_EPOCHS = 4.0


@query(
    "mix_epochs",
    oracle=f"""
WITH toks AS (
  SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tok
  FROM documents GROUP BY source
), fixed AS (
  SELECT source, n_tok,
         CAST(ROUND(sqrt(n_tok) * 1000000) AS BIGINT) AS ss
  FROM toks
), tot AS (
  SELECT CAST(SUM(ss) AS BIGINT) AS s_sum, CAST(SUM(n_tok) AS BIGINT) AS t_tot
  FROM fixed
)
SELECT f.source, f.n_tok AS n_tokens,
       CAST(ss AS DOUBLE) / s_sum AS target_weight,
       least({MIX_MAX_EPOCHS},
             ({MIX_BUDGET_X} * t_tot) * (CAST(ss AS DOUBLE) / s_sum)
               / f.n_tok) AS epochs
FROM fixed f, tot
""",
)
def mix_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing epoch planner — given a token budget (2x the
    corpus) and temperature-T=2 target weights (p_s ∝ tokens_s^0.5),
    how many epochs of each source does the training run consume?
    epochs_s = budget * w_s / tokens_s, capped (no source repeats
    more than {MIX_MAX_EPOCHS}x — the standard repetition-harm
    guard). This is the planning half of sample_temperature: that key
    materializes a rebalanced sample, this one emits the per-source
    recipe a dataloader consumes.

    Determinism: the same integer-micro-unit trick as
    sample_temperature — sqrt weights fixed to exact BIGINT
    micro-units and summed order-independently, every double derived
    once from identical integers with identical expression text.
    Plan: one narrow map + two tiny aggs; the corpus never
    shuffles."""
    d = load(spark, sf_dir, "documents")
    toks = d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_tok")
    )
    fixed = toks.withColumn(
        "ss", F.expr("CAST(ROUND(sqrt(n_tok) * 1000000) AS BIGINT)")
    )
    tot = fixed.agg(
        F.sum("ss").cast("bigint").alias("s_sum"),
        F.sum("n_tok").cast("bigint").alias("t_tot"),
    )
    return (
        fixed.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("n_tok").alias("n_tokens"),
            (F.col("ss").cast("double") / F.col("s_sum")).alias(
                "target_weight"
            ),
            F.least(
                F.lit(MIX_MAX_EPOCHS),
                (F.lit(MIX_BUDGET_X) * F.col("t_tot"))
                * (F.col("ss").cast("double") / F.col("s_sum"))
                / F.col("n_tok"),
            ).alias("epochs"),
        )
    )


def _importance_oracle() -> str:
    from ..functions.hashing import md5_u32_duck

    u = md5_u32_duck("CAST(doc_id AS VARCHAR)")
    return f"""
WITH mx AS (
  SELECT CAST(MAX(n_chars) AS BIGINT) AS max_w FROM documents
), s AS (
  SELECT d.source, CAST(d.n_chars AS BIGINT) AS w,
         CASE WHEN {u} * mx.max_w
                   < CAST(d.n_chars AS BIGINT) * 4294967296
              THEN 1 ELSE 0 END AS acc
  FROM documents d, mx
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(acc) AS BIGINT) AS n_accepted,
       CAST(SUM(w) AS BIGINT) AS total_weight,
       CAST(CAST(SUM(acc) AS BIGINT) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS acceptance_rate,
       CAST(CAST(SUM(w) AS BIGINT) AS DOUBLE)
         / CAST(COUNT(*) * (SELECT max_w FROM mx) AS DOUBLE)
         AS expected_rate
FROM s GROUP BY source
"""


@query("sample_importance", oracle=_importance_oracle())
def sample_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance downsampling by a per-document weight (here doc
    length as the quality proxy): keep document i with probability
    w_i / max_w, decided by the stateless portable-md5 coin — accept
    iff u32(doc_id) * max_w < w_i * 2^32, an EXACT integer
    comparison (no float probability ever materializes, so the
    sample is bit-reproducible and re-runnable incrementally). The
    audit reports measured vs expected acceptance per source. One
    scan + a broadcast scalar max; products stay under 2^63 for any
    w_max <= 2^31."""
    from ..functions.hashing import md5_u32_spark

    d = load(spark, sf_dir, "documents")
    mx = d.agg(F.max("n_chars").cast("bigint").alias("max_w"))
    s = d.crossJoin(F.broadcast(mx)).select(
        "source",
        F.col("n_chars").cast("bigint").alias("w"),
        "max_w",
        F.when(
            md5_u32_spark(F.col("doc_id").cast("string")) * F.col("max_w")
            < F.col("n_chars").cast("bigint") * F.lit(4294967296),
            1,
        ).otherwise(0).alias("acc"),
    )
    return s.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("acc").cast("bigint").alias("n_accepted"),
        F.sum("w").cast("bigint").alias("total_weight"),
        (
            F.sum("acc").cast("bigint").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("acceptance_rate"),
        (
            F.sum("w").cast("bigint").cast("double")
            / (F.count(F.lit(1)) * F.first("max_w")).cast("double")
        ).alias("expected_rate"),
    )


_FL_K = 8
_FL_SCALE = 10**9


def _facility_location_oracle(k: int = _FL_K) -> str:
    head = f"""
WITH e AS MATERIALIZED (
  SELECT vec_id, embedding, sqrt({V.duck_sq_norm('embedding')}) AS nrm
  FROM embeddings),
pd AS MATERIALIZED (
  SELECT a.vec_id AS v, b.vec_id AS c,
         CAST(round(
           {V.duck_dot('a.embedding', 'b.embedding')}
           / (a.nrm * b.nrm) * {_FL_SCALE}) AS BIGINT) AS s
  FROM e a CROSS JOIN e b),
s0 AS MATERIALIZED (SELECT vec_id AS v, CAST(0 AS BIGINT) AS cur FROM e),
pk0 AS MATERIALIZED (SELECT CAST(NULL AS BIGINT) AS c WHERE 1 = 0)"""
    parts = [head]
    for r in range(1, k + 1):
        parts.append(f"""
, g{r} AS MATERIALIZED (
  SELECT p.c, CAST(SUM(greatest(p.s, st.cur)) AS BIGINT) AS tot
  FROM pd p JOIN s{r - 1} st ON p.v = st.v
  WHERE p.c NOT IN (SELECT c FROM pk{r - 1})
  GROUP BY p.c)
, p{r} AS MATERIALIZED (
  SELECT c, tot FROM g{r} ORDER BY tot DESC, c ASC LIMIT 1)
, pk{r} AS MATERIALIZED (
  SELECT c FROM pk{r - 1} UNION ALL SELECT c FROM p{r})
, s{r} AS MATERIALIZED (
  SELECT st.v, greatest(st.cur, p.s) AS cur
  FROM s{r - 1} st
  JOIN pd p ON p.v = st.v AND p.c = (SELECT c FROM p{r}))""")
    sel = " UNION ALL ".join(
        f"SELECT CAST({r - 1} AS INTEGER) AS sel_order,"
        f" CAST(c AS BIGINT) AS vec_id,"
        f" CAST(tot AS DOUBLE) / {_FL_SCALE} AS objective FROM p{r}"
        for r in range(1, k + 1)
    )
    parts.append("\n" + sel)
    return "".join(parts)


@query("select_facility_location", oracle=_facility_location_oracle())
def select_facility_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy facility-location selection (k=8): maximize
    F(S) = sum_v max_{s in S} cos(v, s) — the submodular coverage
    objective data-curation pipelines use to pick representative
    exemplars (1 - 1/e greedy guarantee). The distributed-safety
    trick: every pairwise cosine is computed ONCE (an IEEE fold
    identical in both engines) and immediately quantized to an
    integer at 1e9, so all greedy state — coverage vector, candidate
    totals, argmax — is exact BIGINT arithmetic whose distributed
    sums are order-independent; no float accumulation ever crosses a
    partition boundary. Per round: one integer aggregate over the
    pair table + one state update join (2 jobs, k rounds). The pair
    table is the gated tiny-n product (exemplar selection runs on a
    coreset at scale — div_coreset_mr feeds this); the oracle replays
    the identical integers over the same MATERIALIZED pair table
    (~11 s at sf0.1 — documented naive-oracle cost, PLANS.md)."""
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return facility_location_over(e, k=_FL_K)


# The kernel's pair table is crossJoin(broadcast(candidates)) —
# O(n^2) rows by construction. The doctrine is coreset-fed input
# (div_coreset_mr / div_coreset_tree reduce any corpus to <= a few
# hundred exemplar candidates first); this bound turns the doctrine
# into a hard guard so api.facility_location can never broadcast an
# unbounded corpus: 8192 points -> a 4 MB broadcast at dim 64 and a
# 67M-row integer pair table, the documented ceiling.
FL_MAX_POINTS = 8192


def facility_location_over(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_points: int = FL_MAX_POINTS,
) -> DataFrame:
    """Greedy facility-location kernel over any (id, vector) frame —
    shared by select_facility_location and api.facility_location.
    Similarities quantize to BIGINT at 1e9 so greedy state is
    order-independent integers (see the registered key's docstring
    for the scale argument). One aggregate up front refuses inputs
    above ``max_points`` (the n^2 pair table is only sound on a
    coreset — reduce larger corpora with div_coreset_mr first),
    duplicate ids and zero vectors (cosine is undefined there); k is
    clamped to the number of candidates."""
    spark = df.sparkSession
    en = df.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    ).withColumn("nrm", F.sqrt(V.sq_norm("embedding")))
    n, n_ids, n_zero = en.agg(
        F.count(F.lit(1)),
        F.countDistinct("vec_id"),
        F.count(F.when(F.col("nrm") == 0, 1)),
    ).first()
    if n > max_points:
        raise ValueError(
            f"facility_location: {n} input points exceed the "
            f"{max_points}-point pair-table bound; select exemplar "
            "candidates with a coreset first (div_coreset_mr / "
            "api.coreset) and run facility location over the coreset."
        )
    if n_ids != n:
        raise ValueError(
            f"facility_location: {n - n_ids} duplicate {id_col} values; "
            "each candidate needs a unique id."
        )
    if n_zero:
        raise ValueError(
            f"facility_location: {n_zero} zero-norm {vec_col} vectors; "
            "cosine similarity is undefined for them."
        )
    k = min(k, n)
    a = en.select(
        F.col("vec_id").alias("v"),
        F.col("embedding").alias("av"),
        F.col("nrm").alias("an"),
    )
    b = en.select(
        F.col("vec_id").alias("c"),
        F.col("embedding").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    pairs = a.crossJoin(F.broadcast(b)).select(
        "v",
        "c",
        F.expr(
            f"CAST(round({V.dot_sql('av', 'cv')} / (an * cn) * {_FL_SCALE})"
            " AS BIGINT)"
        ).alias("s"),
    )

    # Local greedy tier (guide §5 local-finish, the ts_dtw /
    # ts_matrix_profile pattern): the greedy state loop is k rounds of
    # (integer aggregate + argmax + state-update join) = 17 Spark jobs
    # over an n^2 table that is CORESET-SIZED BY CONTRACT (max_points
    # hard guard above). For n <= _FL_LOCAL_MAX the quantized integer
    # pair table is pulled once through Arrow (3 int64 columns,
    # n=4096 -> ~400 MB, inside the driver's 1 GB result cap) and the
    # identical greedy runs vectorized in numpy. Result-exact by
    # construction: the s integers are computed by the SAME Spark
    # expression (only their transport changes), and every greedy step
    # is int64 max/sum/argmax with the same (tot DESC, c ASC)
    # tie-break — no float accumulation anywhere (the objective
    # division float(tot)/SCALE is the same Python expression the
    # distributed loop used). Above the bound (or on an empty input)
    # the distributed loop below is unchanged.
    n_local_max = int(os.environ.get("SPARK_GRAFT_FL_LOCAL_MAX", "4096"))
    if 0 < n <= n_local_max:
        pdf = pairs.toPandas()
        v_ids = np.sort(pdf["v"].unique())
        c_ids = np.sort(pdf["c"].unique())
        vi = np.searchsorted(v_ids, pdf["v"].to_numpy())
        ci = np.searchsorted(c_ids, pdf["c"].to_numpy())
        S = np.zeros((len(v_ids), len(c_ids)), dtype=np.int64)
        S[vi, ci] = pdf["s"].to_numpy(dtype=np.int64)
        cur = np.zeros(len(v_ids), dtype=np.int64)
        alive = np.ones(len(c_ids), dtype=bool)
        out = []
        for r in range(k):
            tot = np.maximum(S, cur[:, None]).sum(
                axis=0, dtype=np.int64
            )
            # argmax with (tot DESC, c ASC): scan candidates in
            # ascending c order, keep the first strict maximum.
            tot[~alive] = np.iinfo(np.int64).min
            best = int(np.argmax(tot))  # first (lowest c) max wins
            alive[best] = False
            out.append(
                (r, int(c_ids[best]), float(int(tot[best])) / _FL_SCALE)
            )
            cur = np.maximum(cur, S[:, best])
        return spark.createDataFrame(
            out, "sel_order int, vec_id bigint, objective double"
        )

    pairs = pairs.localCheckpoint(eager=True)
    state = pairs.select("v").distinct().withColumn(
        "cur", F.lit(0).cast("bigint")
    )
    picked: list = []
    out = []
    for r in range(k):
        gains = (
            pairs.where(~F.col("c").isin([p for p in picked]))
            .join(state, "v")
            .groupBy("c")
            .agg(F.sum(F.greatest("s", "cur")).cast("bigint").alias("tot"))
            .orderBy(F.desc("tot"), "c")
            .limit(1)
            .collect()
        )
        cid, tot = gains[0]["c"], gains[0]["tot"]
        picked.append(cid)
        out.append((r, int(cid), float(tot) / _FL_SCALE))
        upd = pairs.where(F.col("c") == cid).select("v", "s")
        state = (
            state.join(upd, "v")
            .select("v", F.greatest("cur", "s").alias("cur"))
            .localCheckpoint(eager=True)
        )
    return spark.createDataFrame(
        out, "sel_order int, vec_id bigint, objective double"
    )


@query(
    "corpus_overlap_matrix",
    oracle="""
WITH toks AS (
  SELECT source, string_split(text, ' ') AS ws FROM documents
), sh AS (
  SELECT DISTINCT source,
         array_to_string(ws[i : i + 4], ' ') AS g
  FROM toks,
  LATERAL (SELECT unnest(generate_series(1, greatest(len(ws) - 4, 0)))
           AS i) t
), sz AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_shingles
  FROM sh GROUP BY source
), inter AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS n_common
  FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT i.source_a, i.source_b, za.n_shingles AS n_a, zb.n_shingles AS n_b,
       i.n_common,
       CAST(i.n_common AS DOUBLE)
         / CAST(za.n_shingles + zb.n_shingles - i.n_common AS DOUBLE)
         AS jaccard,
       CAST(i.n_common AS DOUBLE)
         / CAST(least(za.n_shingles, zb.n_shingles) AS DOUBLE)
         AS containment
FROM inter i
JOIN sz za ON i.source_a = za.source
JOIN sz zb ON i.source_b = zb.source
""",
)
def corpus_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every source pair, the
    Jaccard and max-containment overlap of their distinct word-5-gram
    sets — the corpus-health view that catches one feed mirroring
    another before both are upweighted as 'independent'. Shingles
    explode once and dedup per source (digest-sized shuffle); the
    pair intersection is an equi-join on the shingle string grouped
    to a sources^2-bounded output; both similarity ratios are single
    double divisions of exact bigints. The per-pair generalization
    of decontam_ngram's train-vs-eval check."""
    d = load(spark, sf_dir, "documents")

    # Arrow-batched 5-gram generator (the shingles_df lesson: the
    # pure-SQL transform(sequence, slice(split...)) form re-splits
    # the text per shingle index under CollapseProject inlining).
    def gen5(batches):
        for pdf in batches:
            srcs, gs = [], []
            for src, text in zip(pdf["source"], pdf["text"]):
                ws2 = text.split(" ")
                n2 = max(len(ws2) - 4, 0)
                uniq = {" ".join(ws2[i : i + 5]) for i in range(n2)}
                uniq.discard("")
                for g in uniq:
                    srcs.append(src)
                    gs.append(g)
            import pandas as pd

            yield pd.DataFrame({"source": srcs, "g": gs})

    sh = (
        d.select("source", "text")
        .mapInPandas(gen5, "source string, g string")
        .distinct()
    )
    sz = sh.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles")
    )
    a = sh.select(F.col("source").alias("source_a"), "g")
    b = sh.select(F.col("source").alias("source_b"), "g")
    inter = (
        a.join(b, "g")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    za = sz.select(
        F.col("source").alias("source_a"), F.col("n_shingles").alias("n_a")
    )
    zb = sz.select(
        F.col("source").alias("source_b"), F.col("n_shingles").alias("n_b")
    )
    return (
        inter.join(F.broadcast(za), "source_a")
        .join(F.broadcast(zb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast(
                    "double"
                )
            ).alias("jaccard"),
            (
                F.col("n_common").cast("double")
                / F.least("n_a", "n_b").cast("double")
            ).alias("containment"),
        )
    )


def _ht_estimate_oracle() -> str:
    from ..functions.hashing import md5_u32_duck

    u = md5_u32_duck("CAST(doc_id AS VARCHAR)")
    return f"""
WITH mx AS (
  SELECT CAST(MAX(n_chars) AS BIGINT) AS max_w FROM documents
), s AS (
  SELECT d.source, CAST(d.n_chars AS BIGINT) AS w,
         CASE WHEN {u} * mx.max_w
                   < CAST(d.n_chars AS BIGINT) * 4294967296
              THEN 1 ELSE 0 END AS acc
  FROM documents d, mx
)
SELECT source,
       CAST(SUM(w) AS BIGINT) AS true_total_chars,
       CAST(SUM(acc) AS BIGINT) AS n_accepted,
       CAST(CAST(SUM(acc) AS BIGINT) * (SELECT max_w FROM mx) AS BIGINT)
         AS ht_estimate_chars,
       (CAST(CAST(SUM(acc) AS BIGINT) * (SELECT max_w FROM mx) AS BIGINT)
          - CAST(SUM(w) AS BIGINT))
         / CAST(CAST(SUM(w) AS BIGINT) AS DOUBLE) AS rel_err
FROM s GROUP BY source
"""


@query("sample_ht_estimate", oracle=_ht_estimate_oracle())
def sample_ht_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horvitz-Thompson total estimation over the sample_importance
    draw: with inclusion probability p_i = w_i / max_w, each accepted
    item contributes w_i / p_i = max_w EXACTLY, so the HT estimate of
    total corpus chars per source is just n_accepted * max_w — an
    integer — and the audit reports it against the true total with
    one double division. Demonstrates the estimator a pipeline uses
    to monitor what its own downsampling is doing, with zero float
    probability anywhere."""
    from ..functions.hashing import md5_u32_spark

    d = load(spark, sf_dir, "documents")
    mx = d.agg(F.max("n_chars").cast("bigint").alias("max_w"))
    s = d.crossJoin(F.broadcast(mx)).select(
        "source",
        F.col("n_chars").cast("bigint").alias("w"),
        "max_w",
        F.when(
            md5_u32_spark(F.col("doc_id").cast("string")) * F.col("max_w")
            < F.col("n_chars").cast("bigint") * F.lit(4294967296),
            1,
        ).otherwise(0).alias("acc"),
    )
    return s.groupBy("source").agg(
        F.sum("w").cast("bigint").alias("true_total_chars"),
        F.sum("acc").cast("bigint").alias("n_accepted"),
        (F.sum("acc").cast("bigint") * F.first("max_w"))
        .cast("bigint")
        .alias("ht_estimate_chars"),
        (
            (
                F.sum("acc").cast("bigint") * F.first("max_w")
                - F.sum("w").cast("bigint")
            )
            / F.sum("w").cast("bigint").cast("double")
        ).alias("rel_err"),
    )


@query(
    "corpus_js_divergence",
    oracle="""
WITH freq AS (
  SELECT source, word, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT source, unnest(string_split(text, ' ')) AS word
        FROM documents)
  GROUP BY source, word
), tot AS (
  SELECT source, CAST(SUM(n) AS BIGINT) AS n_tot FROM freq GROUP BY source
), pairs AS (
  SELECT a.source AS s1, b.source AS s2
  FROM tot a JOIN tot b ON a.source < b.source
), wp AS (
  SELECT p.s1, p.s2, f.word
  FROM pairs p JOIN freq f ON f.source = p.s1 OR f.source = p.s2
  GROUP BY 1, 2, 3
), terms AS (
  SELECT wp.s1, wp.s2,
         CAST(round(
           500000000000.0 * (
             CASE WHEN COALESCE(f1.n, 0) > 0
                  THEN (CAST(f1.n AS DOUBLE) / t1.n_tot)
                       * ln(2 * (CAST(f1.n AS DOUBLE) / t1.n_tot)
                            / ((CAST(COALESCE(f1.n, 0) AS DOUBLE) / t1.n_tot)
                               + (CAST(COALESCE(f2.n, 0) AS DOUBLE)
                                  / t2.n_tot)))
                  ELSE 0 END
             + CASE WHEN COALESCE(f2.n, 0) > 0
                  THEN (CAST(f2.n AS DOUBLE) / t2.n_tot)
                       * ln(2 * (CAST(f2.n AS DOUBLE) / t2.n_tot)
                            / ((CAST(COALESCE(f1.n, 0) AS DOUBLE) / t1.n_tot)
                               + (CAST(COALESCE(f2.n, 0) AS DOUBLE)
                                  / t2.n_tot)))
                  ELSE 0 END)) AS BIGINT) AS tq
  FROM wp
  LEFT JOIN freq f1 ON f1.source = wp.s1 AND f1.word = wp.word
  LEFT JOIN freq f2 ON f2.source = wp.s2 AND f2.word = wp.word
  JOIN tot t1 ON t1.source = wp.s1
  JOIN tot t2 ON t2.source = wp.s2
)
SELECT s1, s2,
       CAST(COUNT(*) AS BIGINT) AS n_words_union,
       round(CAST(CAST(SUM(tq) AS BIGINT) AS DOUBLE) / 1000000000000, 6)
         AS js_divergence
FROM terms GROUP BY s1, s2
""",
)
def corpus_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between the unigram
    distributions of every source pair — the distributional
    distance a mixture designer reads before weighting sources
    (0 = identical corpora, ln 2 = disjoint). Per-word
    contributions 0.5*(p ln(2p/(p+q)) + q ln(2q/(p+q))) are
    computed with IDENTICAL expression trees in both engines,
    QUANTIZED once to integer picounits so the big per-word sum is
    exact bigint arithmetic (shuffle order can't move it), and the
    final readout is rounded to 6 dp so a sub-picounit ln-ulp
    wobble on any single word cannot flip the hash. Shape: one
    explode + word-level aggregate (the tfidf shuffle), then joins
    against a BOUNDED pair list (k sources -> k(k-1)/2 pairs) —
    per-pair union vocabularies, never a cross join of words."""
    d = load(spark, sf_dir, "documents")
    freq = (
        d.select("source", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    tot = freq.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("n_tot")
    )
    a = tot.select(F.col("source").alias("s1"))
    b = tot.select(F.col("source").alias("s2"))
    pairs = a.join(b, F.col("s1") < F.col("s2"))
    wp = (
        pairs.join(
            freq,
            (F.col("source") == F.col("s1")) | (F.col("source") == F.col("s2")),
        )
        .select("s1", "s2", "word")
        .distinct()
    )
    f1 = freq.select(
        F.col("source").alias("f1_s"),
        F.col("word").alias("f1_w"),
        F.col("n").alias("n1"),
    )
    f2 = freq.select(
        F.col("source").alias("f2_s"),
        F.col("word").alias("f2_w"),
        F.col("n").alias("n2"),
    )
    t1 = tot.select(F.col("source").alias("t1_s"), F.col("n_tot").alias("nt1"))
    t2 = tot.select(F.col("source").alias("t2_s"), F.col("n_tot").alias("nt2"))
    j = (
        wp.join(
            f1,
            (F.col("f1_s") == F.col("s1")) & (F.col("f1_w") == F.col("word")),
            "left",
        )
        .join(
            f2,
            (F.col("f2_s") == F.col("s2")) & (F.col("f2_w") == F.col("word")),
            "left",
        )
        .join(F.broadcast(t1), F.col("t1_s") == F.col("s1"))
        .join(F.broadcast(t2), F.col("t2_s") == F.col("s2"))
    )
    n1z = F.coalesce(F.col("n1"), F.lit(0))
    n2z = F.coalesce(F.col("n2"), F.lit(0))
    p = F.col("n1").cast("double") / F.col("nt1")
    q = F.col("n2").cast("double") / F.col("nt2")
    pz = n1z.cast("double") / F.col("nt1")
    qz = n2z.cast("double") / F.col("nt2")
    term = F.when(n1z > 0, p * F.log(2 * p / (pz + qz))).otherwise(
        F.lit(0.0)
    ) + F.when(n2z > 0, q * F.log(2 * q / (pz + qz))).otherwise(F.lit(0.0))
    terms = j.select(
        "s1",
        "s2",
        F.round(F.lit(500000000000.0) * term).cast("bigint").alias("tq"),
    )
    return terms.groupBy("s1", "s2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words_union"),
        F.round(
            F.sum("tq").cast("double") / F.lit(1000000000000), 6
        ).alias("js_divergence"),
    )
