"""Distributed GMM / farthest-first traversal (SURVEY.md §2.1).

The reference runs Gonzalez's greedy k-center sequentially; here the
per-iteration argmax is a distributed DataFrame job: keep a running
`min_d2` column (squared distance to the chosen set), pick the global
argmax (tie-broken by id), update `min_d2` with `least()` against the
ONE new center, re-cache, repeat. k small jobs over a cached parent —
the scale path for "GMM on the full dataset" when the data doesn't
fit one machine.

Execution strategy (A/B-measured at sf0.1/k=16, 2000x64):
- state (id, vec, min_d2) is re-cached every round, so each round
  evaluates exactly ONE new center distance over the cached parent —
  the earlier stacked-`least()` formulation (localCheckpoint every 8)
  re-evaluated up to 8 interpreted higher-order-function distances
  per row by the late rounds (5.9s total vs 2.x after);
- the distance stays JVM-side (the `functions/vector` fold): an
  Arrow/numpy `mapInPandas` variant measured ~245 ms/round vs ~110-175
  ms for the JVM expression at this row count — the Python worker
  round-trip dominates when partitions are small. (At much larger
  rows-per-partition numpy wins; `mr_coreset`'s per-partition kernel
  covers that regime.)
- squared distance everywhere; sqrt only on the reported
  `dist_when_chosen` (monotone, so argmax and ties are unchanged).

At cluster scale the shape holds: one narrow no-shuffle stage per
round over a cached RDD and O(k) tiny TakeOrdered jobs.

(A/B note: a pure-RDD variant — cached numpy blocks per partition,
broadcast center, mapPartitions update+argmax — produced identical
centers at ~0.30-0.39 s/round vs ~0.30 s/round here; a no-op job on
the same cached RDD floors at ~0.17 s in local mode, so both
formulations sit at the k-sequential-jobs scheduling floor and the
declarative DF form is kept.)
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import vector as V


def gmm_distributed(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch: int | None = None,
):
    """Farthest-first traversal over a DataFrame of points.

    Returns a list of (rank, id, dist_when_chosen, vector). Start =
    min id (deterministic); argmax ties broken by min id.

    Batched candidate refill (round-2 perf): each Spark job pulls the
    top-m candidates by current min_d2 instead of just the argmax (one
    ordered-limit job, one Arrow transfer through
    functions/vector.collect_sorted, rows sorted by id on the driver),
    then greedy selection continues LOCALLY on that sample while it is
    provably global. The first pick is the global argmax (the ordered
    limit keeps the lowest ids among ties). After it, every
    non-collected point has min_d2 <= the smallest collected value
    (the threshold), and updates only shrink min_d2, so as long as the
    local pick's refined min_d2 is STRICTLY above the threshold no
    outside point can beat or tie it (strictness protects the min-id
    tie-break). Local refinement uses the same
    sequential-fold arithmetic as the JVM expression, so the chosen
    centers and reported distances are bit-identical to the
    one-center-per-job formulation — A/B-checked in
    tests/test_diversity.py. Cuts the k sequential jobs (~0.25 s
    scheduling floor each locally; a full pass each at cluster scale)
    to ~k/4 jobs in practice."""
    base = df.select(id_col, vec_col)
    ids, X = V.collect_sorted(base.orderBy(id_col).limit(1), id_col, vec_col)
    if not len(ids):
        return []  # the local kernel's k = min(k, n) clamp, at n = 0
    first = X[0].tolist()
    centers = [(0, ids[0].item(), 0.0, first)]

    # A/B at sf0.1/k=16: batch 32 -> 2.2s, 128 -> 1.5s, 512 -> 0.9s
    # (identical centers each time); the collect is ~rows*dim*8 bytes,
    # so 512 x 64-d is 256 KB — the threshold just gets tighter and
    # more picks clear it locally per job.
    m = batch if batch is not None else max(256, 32 * k)
    cur = base.withColumn("min_d2", V.sq_l2(vec_col, V.lit_array_sql(first))).cache()
    prev = None
    while len(centers) < k:
        # chosen ids are excluded so duplicate points (min_d2 0 for
        # every remaining row) can never re-select a chosen center —
        # same tie discipline as the local kernel. The ordered limit
        # selects the m candidates; they arrive sorted by id.
        ids, X, d2 = V.collect_sorted(
            cur.filter(~F.col(id_col).isin([c[1] for c in centers]))
            .orderBy(F.col("min_d2").desc(), F.col(id_col))
            .limit(m),
            id_col, vec_col, "min_d2",
        )
        if not len(ids):
            # k exceeds the number of distinct points: return what we
            # have, matching the local kernel's k = min(k, n) clamp
            # (ADVICE r01).
            break
        # threshold: max possible min_d2 of any non-collected point.
        # If fewer than m rows came back we collected EVERY remaining
        # point and can finish entirely locally.
        exhaustive = len(ids) < m
        threshold = float(d2.min())
        cand = [list(c) for c in zip(ids.tolist(), d2.tolist(), X.tolist())]
        new_centers = []
        while len(centers) < k and cand:
            # argmax by refined min_d2, ties by min id (ids are numeric)
            j = max(range(len(cand)), key=lambda i: (cand[i][1], -cand[i][0]))
            cid, cd2, cvec = cand[j]
            if new_centers and not exhaustive and not (cd2 > threshold):
                break  # an uncollected point could beat or tie this pick
            centers.append((len(centers), cid, math.sqrt(max(cd2, 0.0)), cvec))
            new_centers.append(cvec)
            del cand[j]
            for c in cand:
                nd2 = V.fold_sq_l2(c[2], cvec)
                if nd2 < c[1]:
                    c[1] = nd2
        if len(centers) < k:
            col = F.col("min_d2")
            for vec in new_centers:
                col = F.least(col, V.sq_l2(vec_col, V.lit_array_sql(vec)))
            new = cur.withColumn("min_d2", col).cache()
            if prev is not None:
                prev.unpersist()
            prev, cur = cur, new
    for d in (prev, cur):
        if d is not None:
            d.unpersist()
    return centers
