"""High-level library API — the surface a user of the reference
library would call (SURVEY.md §3.1 entry points EP1–EP3), over any
DataFrame of (id, vector[, category]) rows.

    from diversity_maximization_spark import api

    sel = api.gmm(points, k=10)                      # EP1 sequential-style
    sel = api.gmm_coreset(points, k=10, p=64)        # EP1 MapReduce coreset
    val = api.diversity(points, objective="clique")  # Diversity.*
    sel = api.local_search(points, k=8, matroid=m)   # EP3 matroid-constrained
    summ = api.streaming_coreset_fold(rows_iter)     # EP2 one-pass

Every function takes/returns DataFrames (or plain values) and accepts
`id_col` / `vec_col` so it works on any schema, not just the fixture
tables. Metrics: euclidean | cosine.
"""

from __future__ import annotations

from typing import Iterable, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .diversity import kernel as K
from .diversity.coreset import collect_coreset, collect_sorted, mr_coreset
from .diversity.gmm import gmm_distributed
from .diversity.matroid import PartitionMatroid, TransversalMatroid  # noqa: F401
from .streaming.coreset import fold_point


def _selection(spark, ids, dist_when, id_col: str) -> DataFrame:
    """The (sel_order, id, dist_when_chosen) result of a GMM run, built
    from pandas: with Arrow on it plans as a LocalTableScan, which
    collects without a Python-worker job."""
    return spark.createDataFrame(
        pd.DataFrame({
            "sel_order": np.arange(len(ids), dtype=np.int32),
            id_col: np.asarray(ids, dtype=np.int64),
            "dist_when_chosen": [round(float(d), 6) for d in dist_when],
        }),
        f"sel_order int, {id_col} bigint, dist_when_chosen double",
    )


def gmm(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "euclidean",
    distributed: bool = True,
) -> DataFrame:
    """Farthest-first traversal (k centers). distributed=True runs the
    iterative broadcast-argmax over the cluster (euclidean only —
    the JVM expression path); distributed=False collects and runs the
    numpy kernel (any metric) — for data that fits the driver."""
    spark = df.sparkSession
    if distributed and metric == "euclidean":
        centers = gmm_distributed(df, k, id_col=id_col, vec_col=vec_col)
        _, ids, dist_when, _ = zip(*centers)
        return _selection(spark, ids, dist_when, id_col)
    ids, X = collect_sorted(df, id_col, vec_col)
    chosen, dist_when, _ = K.farthest_first(X, k, start=0, metric=metric)
    return _selection(spark, ids[chosen], dist_when, id_col)


def gmm_coreset(
    df: DataFrame,
    k: int,
    p: int = 4,
    kprime: Optional[int] = None,
    m: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: Optional[str] = None,
    metric: str = "euclidean",
    seed: int = 42,
) -> DataFrame:
    """EP1: MapReduce composable coreset -> sequential GMM finish on
    the driver. p partitions, per-partition kernel size k' (default
    4k), m delegates per kernel point."""
    spark = df.sparkSession
    sel = df.select(
        df[id_col].alias("vec_id"),
        df[vec_col].alias("embedding"),
        (df[label_col] if label_col else df[id_col] % 1).cast("int").alias("label"),
    )
    cs = mr_coreset(sel, p=p, kprime=kprime or 4 * k, m=m, seed=seed)
    ids, _labels, X, _w = collect_coreset(cs)
    chosen, dist_when, _ = K.farthest_first(X, k, start=0, metric=metric)
    return _selection(spark, ids[chosen], dist_when, id_col)


def diversity(
    df: DataFrame,
    objective: str = "edge",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "euclidean",
) -> float:
    """Evaluate a diversity objective (edge | clique | star |
    bipartition | tree | cycle) on a candidate set. Collects —
    candidate sets are small by construction (SURVEY.md §7
    known-hard #4)."""
    _, X = collect_sorted(df, id_col, vec_col)
    D = K.pairwise(X, metric)
    fn = {
        "edge": K.eval_edge,
        "clique": K.eval_clique,
        "star": K.eval_star,
        "bipartition": K.eval_bipartition,
        "tree": K.eval_tree,
        "cycle": K.eval_cycle,
    }[objective]
    return float(fn(D))


def matching(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "euclidean",
) -> DataFrame:
    """Remote-clique matching heuristic: k//2 mutually-far pairs."""
    spark = df.sparkSession
    ids, X = collect_sorted(df, id_col, vec_col)
    sel = K.matching_heuristic(K.pairwise(X, metric), k)
    return spark.createDataFrame(
        [(i // 2, int(ids[s])) for i, s in enumerate(sel)],
        f"pair int, {id_col} bigint",
    )


def local_search(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: Optional[str] = None,
    matroid=None,
    metric: str = "euclidean",
    eps: float = 1e-4,
) -> DataFrame:
    """EP3: swap local search for remote-clique, optionally under a
    matroid constraint (PartitionMatroid over label_col values, or
    any object with is_independent)."""
    spark = df.sparkSession
    extra = [label_col] if label_col else []
    ids, X, *labels = collect_sorted(df, id_col, vec_col, *extra)
    labels = labels[0] if labels else None
    is_indep = None
    if matroid is not None:
        if labels is not None and isinstance(matroid, PartitionMatroid):
            is_indep = lambda sel: matroid.is_independent(labels[np.asarray(sel)])  # noqa: E731
        else:
            is_indep = lambda sel: matroid.is_independent(  # noqa: E731
                [int(ids[i]) for i in sel]
            )
    init = None
    if is_indep is not None:
        # greedy independent start (ids order) instead of the first k
        init = []
        for i in range(len(ids)):
            if len(init) == k:
                break
            if is_indep(init + [i]):
                init.append(i)
    sel, val = K.local_search_clique(
        K.pairwise(X, metric), k, eps=eps, is_independent=is_indep, init=init
    )
    return spark.createDataFrame(
        [(int(ids[i]), round(float(val), 6)) for i in sel],
        f"{id_col} bigint, clique_value double",
    )


def streaming_coreset_fold(
    points: Iterable[tuple[int, list]], tau0: float = 0.0
) -> dict:
    """EP2: one-pass doubling summary over an arbitrary (id, vector)
    iterator — the sequential form of the stateful streaming operator
    (they share fold_point, so results are identical)."""
    state = {"tau": tau0, "centers": []}
    for vid, vec in points:
        fold_point(state, int(vid), [float(x) for x in vec])
    return state


def sql(spark, sf_dir: str, text: str) -> DataFrame:
    """Run arbitrary ANSI SQL against the corpus tables (registered
    as temp views on first call) — the engine's SQL front door."""
    from .operators.sql_interface import sql as _sql

    return _sql(spark, sf_dir, text)


def ann_topk(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k cosine neighbors per vector of an arbitrary (id, vector)
    DataFrame. Candidate generation is dispatched by corpus size
    (plans/distance_join.choose_strategy: exact theta / broadcast-BLAS
    prefilter / LSH-bucketed equi-join at scale); survivors are
    re-scored with the exact JVM fold, so results degrade from exact
    to recall-bounded only past the broadcast limit."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from .functions import vector as V
    from .plans.distance_join import topk_candidate_pairs

    spark = df.sparkSession
    e = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    cand = topk_candidate_pairs(spark, e, k + 20, k_exact=k)
    a = e.select("vec_id", F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("neighbor"), F.col("embedding").alias("eb"))
    w = Window.partitionBy("vec_id").orderBy(
        F.col("sim_raw").desc(), F.col("neighbor")
    )
    return (
        cand.join(a, "vec_id")
        .join(b, "neighbor")
        .withColumn("sim_raw", V.cosine_sim("ea", "eb"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            F.col("vec_id").alias(id_col),
            "neighbor",
            F.round("sim_raw", 6).alias("sim"),
            "rn",
        )
    )


def near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs of an arbitrary (id, vector) DataFrame with cosine
    similarity above `threshold` (embedding near-dup detection).
    Same size-dispatched candidate generation + exact re-score as
    ann_topk; pairs are returned once (id_a < id_b)."""
    from pyspark.sql import functions as F

    from .functions import vector as V
    from .plans.distance_join import threshold_candidate_pairs

    spark = df.sparkSession
    e = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    cand = threshold_candidate_pairs(spark, e, threshold)
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    return (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .withColumn("cs", V.cosine_sim("ea", "eb"))
        .filter(F.col("cs") > threshold)
        .select(
            F.col("vec_a").alias(f"{id_col}_a"),
            F.col("vec_b").alias(f"{id_col}_b"),
            F.round("cs", 6).alias("cos_sim"),
        )
    )


def mmr(
    df: DataFrame,
    k: int = 10,
    lam: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Greedy maximal-marginal-relevance selection over an arbitrary
    (id, vector) DataFrame: argmax lam*rel - (1-lam)*max-sim, rel =
    cosine to the (deterministic) corpus mean. Batched distributed
    greedy — one job collects a provably sufficient candidate
    frontier, so k picks cost ~1-2 jobs. Returns
    [(rank, id, rel, mmr_score)]."""
    from .llm.decontam import mmr_over

    return mmr_over(df, k=k, lam=lam, id_col=id_col, vec_col=vec_col)


def quality_signals(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style per-document quality signals + pass flag for any
    (id, text) DataFrame — one Arrow pass, no shuffle."""
    from .llm.transforms import gopher_signals

    return gopher_signals(df, id_col=id_col, text_col=text_col)


def heavy_hitters(
    df: DataFrame, col: str, divisor: int = 100, counters: int = 512
) -> DataFrame:
    """EXACT heavy hitters of a value column (count >= ceil(n/divisor))
    without shuffling the value stream: per-partition Misra-Gries
    candidates (narrow Arrow pass) + a broadcast-semi-join-filtered
    exact second pass. Coverage is guaranteed while
    ceil(n/divisor) * (counters+1) > n; otherwise falls back to the
    exact one-shuffle groupBy (tiny inputs only)."""
    import pandas as pd
    from pyspark.sql import functions as F

    vals = df.select(F.col(col).alias("v"))
    n = vals.count()
    thr = max(1, -(-n // divisor))
    exact = (
        vals.groupBy("v")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= thr)
        .select(F.col("v").alias(col), "cnt")
    )
    if thr * (counters + 1) <= n:
        return exact

    def mg(batches):
        c: dict = {}
        for pdf in batches:
            for v in pdf["v"]:
                if v in c:
                    c[v] += 1
                elif len(c) < counters:
                    c[v] = 1
                else:
                    dead = [k for k in c if c[k] == 1]
                    for k in dead:
                        del c[k]
                    for k in c:
                        c[k] -= 1
        yield pd.DataFrame({"v": list(c.keys())})

    schema = vals.schema["v"].dataType.simpleString()
    cands = vals.mapInPandas(mg, f"v {schema}").distinct()
    return (
        vals.join(F.broadcast(cands), "v", "left_semi")
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= thr)
        .select(F.col("v").alias(col), "cnt")
    )


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: tuple = (80, 10, 10),
    names: tuple = ("train", "val", "test"),
) -> DataFrame:
    """Deterministic train/val/test assignment by portable
    multiplicative hash of the id — RNG-free, layout- and
    engine-independent, a pure narrow map (the sample_hash_split
    idiom generalized to arbitrary weights)."""
    from pyspark.sql import functions as F

    assert len(weights) == len(names) and sum(weights) == 100
    bucket = F.expr(
        f"(({id_col} % 2147483648) * 2654435761 % 4294967296) % 100"
    )
    col = None
    acc = 0
    for w, name in zip(weights, names):
        acc += w
        cond = bucket < acc
        col = F.when(cond, name) if col is None else col.when(cond, name)
    return df.withColumn("split", col)


def near_dup_texts(
    df: DataFrame,
    threshold: float = 0.35,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Text near-duplicate pairs for any (id, text) DataFrame:
    MinHash-LSH banded candidate generation (shuffle-only equi-join,
    the 100 TB path) verified with exact shingle Jaccard — returns
    (doc_a, doc_b, jaccard) with jaccard >= threshold."""
    from .llm.dedup import minhash_near_dup_pairs

    return minhash_near_dup_pairs(
        df, threshold=threshold, id_col=id_col, text_col=text_col
    )


def components(edges: DataFrame, vertices: DataFrame, max_iter: int = 25) -> DataFrame:
    """Distributed connected components by min-label propagation over
    (src, dst) edge and (id) vertex DataFrames — iterative equi-joins
    with per-round localCheckpoint, no graph library needed. Returns
    (id, label) with label = min vertex id of the component."""
    from .llm.dedup import connected_components

    return connected_components(edges, vertices, max_iter=max_iter)


def skyline(
    df: DataFrame,
    maximize: str,
    minimize: str,
    keep_cols: Optional[list] = None,
) -> DataFrame:
    """2-D Pareto frontier (rows not strictly dominated on
    (maximize up, minimize down)) via the MapReduce skyline
    decomposition — partition-local sort-and-sweep then one sweep of
    the small candidate union; the quadratic never runs."""
    from .operators.sorts_setops import skyline_2d

    return skyline_2d(df, maximize, minimize, keep_cols=keep_cols)


def smooth(
    df: DataFrame,
    key_cols: list,
    order_cols: list,
    value_col: str,
    alpha: float = 0.3,
    beta: Optional[float] = None,
) -> DataFrame:
    """Per-series exponential smoothing: EWMA (beta=None) or Holt
    level+trend (beta set). One shuffle by key + Arrow O(n) fold with
    constant state — sequential per key, parallel across keys."""
    from .operators.timeseries import smooth_series

    return smooth_series(df, key_cols, order_cols, value_col, alpha, beta)


def triangles(edges: DataFrame) -> DataFrame:
    """Triangle count over a distinct (u < v) undirected edge
    DataFrame via the degree-oriented wedge join (O(m^1.5) bound).
    Returns one row (n_vertices, n_edges, n_triangles)."""
    from .operators.graph import triangle_count

    return triangle_count(edges)


def profile(df: DataFrame, cols: list) -> DataFrame:
    """One-scan column profiler: cols is [(name, kind)] with kind in
    {'num', 'ts', 'str'}; returns per-column null count, exact
    distinct count, and numeric/temporal min-max."""
    from .operators.quality import profile_table

    return profile_table(df, cols)


def passage_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_words: int = 15,
) -> DataFrame:
    """Cross-document repeated-passage fraction (exact-substring dedup
    tier): sliding n-word windows shuffled as 8-byte fingerprints.
    Returns (id, n_passages, n_dup_passages, dup_frac)."""
    from .llm.dedup import passage_dup_stats

    return passage_dup_stats(df, id_col, text_col, n_words)


def radius_neighbors(
    points: DataFrame, id_col: str, x_col: str, y_col: str, r: float
) -> DataFrame:
    """Grid-bucketed 2-D radius neighbor counts: 3x3 cell replication
    turns the radius predicate into an equi-join on the cell key.
    Returns (id, n_neighbors, nearest_dist)."""
    from .operators.joins import radius_neighbors as _rn

    return _rn(points, id_col, x_col, y_col, r)


def bpe_vocab(df: DataFrame, k: int = 20) -> list:
    """Learn k exact BPE merges from any DataFrame with a `text`
    column (distributed over the distinct-word frequency table).
    Returns [((left, right), count), ...] in merge order."""
    from .llm.bpe import bpe_train_merges

    return bpe_train_merges(df, k)


def attribution(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    tiebreak_col: str,
    type_col: str,
    conversion: str,
    value_col: str,
) -> DataFrame:
    """Last-touch attribution over any event DataFrame: credits each
    conversion to the user's most recent prior non-conversion event
    type. Returns (channel, n_purchases, revenue)."""
    from .operators.behavior import last_touch_attribution

    return last_touch_attribution(
        events, user_col, ts_col, tiebreak_col, type_col, conversion,
        value_col,
    )


def survival(durs: DataFrame, dur_col: str, event_col: str) -> DataFrame:
    """Kaplan-Meier curve from (duration, event 0/1) rows — at-risk
    counts, hazards, and S(t) with right-censoring. Returns one row
    per event time."""
    from .operators.behavior import km_curve

    return km_curve(durs, dur_col, event_col)


def hampel(
    series: DataFrame,
    key_cols: list,
    order_col: str,
    value_col: str,
    half_window: int = 3,
    n_sigma: float = 3.0,
) -> DataFrame:
    """Hampel outlier filter over any keyed series: centered rolling
    median/MAD spike detection with exact bounded-frame medians."""
    from .operators.windows import hampel_filter

    return hampel_filter(
        series, key_cols, order_col, value_col, half_window, n_sigma
    )


def string_scores(pairs: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Record-linkage scores for any (string, string) pair DataFrame:
    appends levenshtein, unrestricted Damerau-Levenshtein,
    character-set Jaccard, and Jaro-Winkler (DuckDB-bit-identical
    kernels, Arrow-batched). Delegates to the operator kernel."""
    from .operators.scalars import string_scores_over

    return string_scores_over(pairs, col_a, col_b)


def ks_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D over any integer-valued column:
    collapses to per-distinct-value group counts (bounded by the
    value domain), then the ECDF max-gap. Returns one row
    (n1, n2, d_stat, ks_scaled)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    rows_ = df.filter(
        F.col(group_col).isin(group_a, group_b)
    ).select(F.col(group_col).alias("grp"), F.col(value_col).alias("c"))
    vals = rows_.groupBy("c").agg(
        F.sum(F.when(F.col("grp") == group_a, 1).otherwise(0))
        .cast("bigint")
        .alias("da"),
        F.sum(F.when(F.col("grp") == group_b, 1).otherwise(0))
        .cast("bigint")
        .alias("db"),
    )
    # bounded: distinct values of the integer-valued column
    w_cum = W.orderBy("c").rowsBetween(W.unboundedPreceding, W.currentRow)
    # bounded: same distinct-value domain
    w_all = W.orderBy("c").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    cum = vals.select(
        F.sum("da").over(w_cum).alias("ca"),
        F.sum("db").over(w_cum).alias("cb"),
        F.sum("da").over(w_all).alias("n1"),
        F.sum("db").over(w_all).alias("n2"),
    )
    diff = F.abs(
        F.col("ca").cast("double") / F.col("n1")
        - F.col("cb").cast("double") / F.col("n2")
    )
    return (
        cum.groupBy("n1", "n2")
        .agg(F.max(diff).alias("d_stat"))
        .select(
            "n1",
            "n2",
            "d_stat",
            (
                F.col("d_stat")
                * F.sqrt(
                    F.col("n1").cast("double")
                    * F.col("n2")
                    / (F.col("n1").cast("double") + F.col("n2"))
                )
            ).alias("ks_scaled"),
        )
    )


def winsorize(
    df: DataFrame,
    group_col: str,
    value_col: str,
    lo: float = 0.05,
    hi: float = 0.95,
) -> DataFrame:
    """Per-group winsorization: clip value_col to its group's exact
    interpolated [lo, hi] quantiles via a broadcast quantile table.
    Appends p_lo/p_hi/<value>_winsorized/clipped columns."""
    from pyspark.sql import functions as F

    q = df.groupBy(group_col).agg(
        F.expr(f"percentile({value_col}, {lo})").alias("p_lo"),
        F.expr(f"percentile({value_col}, {hi})").alias("p_hi"),
    )
    j = df.join(F.broadcast(q), group_col)
    c = F.col(value_col)
    return j.select(
        "*",
        F.when(c < F.col("p_lo"), F.col("p_lo"))
        .when(c > F.col("p_hi"), F.col("p_hi"))
        .otherwise(c)
        .alias(f"{value_col}_winsorized"),
        ((c < F.col("p_lo")) | (c > F.col("p_hi"))).alias("clipped"),
    )


def balanced_sample(
    df: DataFrame, class_col: str, id_col: str
) -> DataFrame:
    """Class-balanced downsampling to the min class size, seed-free:
    rank within class by md5(id) and keep the first k."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    sized = df.groupBy(class_col).agg(F.count(F.lit(1)).alias("n"))
    k = sized.agg(F.min("n").alias("k"))
    w = W.partitionBy(class_col).orderBy(
        F.md5(F.col(id_col).cast("string")), id_col
    )
    return (
        df.withColumn("rn", F.row_number().over(w))
        .join(F.broadcast(k))
        .filter(F.col("rn") <= F.col("k"))
        .drop("rn", "k")
    )


def benford(df: DataFrame, value_col: str) -> DataFrame:
    """First-digit Benford audit of any positive numeric column:
    per-digit observed share, expected log10(1+1/d), and chi-square
    contribution."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    d = df.filter(F.col(value_col) > 0).select(
        F.floor(
            F.col(value_col)
            / F.pow(F.lit(10.0), F.floor(F.log10(value_col)))
        )
        .cast("bigint")
        .alias("digit")
    )
    counts = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    # bounded: 9 leading digits
    w_all = W.orderBy("digit").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    tot = counts.select("digit", "n", F.sum("n").over(w_all).alias("total"))
    obs = F.col("n").cast("double") / F.col("total")
    exp = F.log10(1 + 1.0 / F.col("digit"))
    return tot.select(
        "digit",
        "n",
        obs.alias("observed"),
        exp.alias("expected"),
        ((obs - exp) * (obs - exp) * F.col("total") / exp).alias(
            "chi2_term"
        ),
    )


def neighbor_jaccard(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_jaccard: float = 0.2,
) -> DataFrame:
    """Item-item collaborative similarity over any (basket, item)
    co-occurrence table: inverted-index self-join on the basket key,
    exact Jaccard of basket sets, thresholded. Delegates to the
    operator kernel."""
    from .operators.graph import neighbor_jaccard_over

    return neighbor_jaccard_over(df, basket_col, item_col, min_jaccard)


def roc_auc(
    df: DataFrame, score_col: str, label_col: str
) -> DataFrame:
    """Exact tie-corrected rank-sum ROC AUC of a numeric score
    against a 0/1 label column. Quantize float scores to integers
    first (e.g. cents) for cross-engine bit-stability. Delegates to
    operators.aggregates.roc_auc_over (the registered agg_roc_auc
    kernel)."""
    from .operators.aggregates import roc_auc_over

    return roc_auc_over(df, score_col, label_col)


def gap_islands(
    df: DataFrame, key_col: str, ts_col: str
) -> DataFrame:
    """Maximal consecutive-day activity runs per key (gaps-and-
    islands). Delegates to operators.windows.gap_islands_over (the
    registered win_gap_islands kernel)."""
    from .operators.windows import gap_islands_over

    return gap_islands_over(df, key_col, ts_col)


def facility_location(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy submodular facility-location selection of k exemplars
    (1 - 1/e guarantee) with integer-exact distributed state.
    Delegates to llm.decontam.facility_location_over (the registered
    select_facility_location kernel). Run it on a coreset
    (api.gmm_coreset) when the corpus exceeds pair-table scale."""
    from .llm.decontam import facility_location_over

    return facility_location_over(df, k, id_col=id_col, vec_col=vec_col)


def bm25(
    docs: DataFrame,
    terms: list,
    id_col: str = "doc_id",
    text_col: str = "text",
    topn: int = 20,
) -> DataFrame:
    """BM25 top-n retrieval for a term list over any (id, text)
    corpus. Delegates to llm.textstats.bm25_over (the registered
    text_bm25_topk kernel)."""
    from .llm.textstats import bm25_over

    return bm25_over(
        docs, terms, id_col=id_col, text_col=text_col, topn=topn
    )


def longest_streaks(df: DataFrame, key_col: str, ts_col: str) -> DataFrame:
    """Consecutive-day activity streaks per key (longest run, active
    days, streak count). Delegates to
    operators.windows.longest_streaks_over (the registered
    win_longest_streak kernel)."""
    from .operators.windows import longest_streaks_over

    return longest_streaks_over(df, key_col, ts_col)


def growth_accounting(df: DataFrame, user_col: str, ts_col: str) -> DataFrame:
    """Monthly MAU decomposition into new / retained / resurrected /
    churned. Delegates to operators.aggregates.growth_accounting_over
    (the registered agg_growth_accounting kernel)."""
    from .operators.aggregates import growth_accounting_over

    return growth_accounting_over(df, user_col, ts_col)


def dbscan(
    points: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    eps: float = 0.02,
    min_neighbors: int = 3,
) -> DataFrame:
    """Grid-bucketed 2-D DBSCAN (core/border/noise roles + cluster
    ids). Delegates to operators.joins.dbscan_over (the registered
    geo_dbscan kernel)."""
    from .operators.joins import dbscan_over

    return dbscan_over(
        points, id_col, x_col, y_col,
        eps=eps, eps2_literal=eps * eps, min_neighbors=min_neighbors,
    )


def pps_sample(
    weights: DataFrame, key_col: str, weight_col: str, n: int = 100
) -> DataFrame:
    """Systematic probability-proportional-to-size sample of n keys
    (n_hits per selected key). Delegates to
    operators.aggregates.pps_systematic_over (the registered
    sample_pps_systematic kernel)."""
    from .operators.aggregates import pps_systematic_over

    return pps_systematic_over(weights, key_col, weight_col, n)
