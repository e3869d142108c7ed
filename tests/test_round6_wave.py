"""Property + plan tests for the round-6 operator wave.

Round 6's additions are mostly rows-only -> hash-checked conversions
(the oracle hash-match is the correctness gate); these tests pin the
INVARIANTS that must hold at any scale factor and the cross-
implementation identities the conversions rely on.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from diversity_maximization_spark.registry import QUERIES
from diversity_maximization_spark.sources import load


# --- streaming-coreset census keys ----------------------------------------


def test_stream_coreset_census_mass_conservation(spark, sf_dir):
    rows = QUERIES["stream_coreset_census"](spark, sf_dir).collect()
    n = load(spark, sf_dir, "embeddings").count()
    seqs = sorted(r["seq"] for r in rows)
    assert seqs == [1, 2, 3, 4]
    by_seq = {r["seq"]: r["total_weight"] for r in rows}
    # cumulative, monotone, ends at n (every point delivered once)
    assert by_seq[4] == n
    assert all(by_seq[s] <= by_seq[s + 1] for s in (1, 2, 3))


def test_stream_coreset_shard_census_matches_routing(spark, sf_dir):
    from diversity_maximization_spark.streaming.coreset import shard_mix

    rows = QUERIES["stream_coreset_shard_census"](spark, sf_dir).collect()
    got = {r["shard"]: r["total_weight"] for r in rows}
    expected = {
        r["g"]: r["cnt"]
        for r in load(spark, sf_dir, "embeddings")
        .select(shard_mix("vec_id", 4).alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert got == expected
    assert sum(got.values()) == load(spark, sf_dir, "embeddings").count()


# --- exhaustive bipartition ------------------------------------------------


def test_bipartition_exhaustive_matches_kernel(spark, sf_dir):
    """The Spark mask-enumeration value must equal the driver kernel's
    exhaustive optimum on the same 14 points (float-vs-quantized gap
    is bounded by 91 * 0.5e-9)."""
    from diversity_maximization_spark.diversity import kernel as K

    r = QUERIES["div_eval_bipartition_exhaustive"](spark, sf_dir).collect()
    assert len(r) == 1 and r[0]["objective"] == "bipartition14"
    cand = (
        load(spark, sf_dir, "embeddings")
        .filter("vec_id % 25 = 0 AND vec_id < 350")
        .orderBy("vec_id")
        .collect()
    )
    assert len(cand) == 14
    X = np.stack([np.asarray(c["embedding"], dtype=np.float64) for c in cand])
    D = K.pairwise_l2(X)
    exact = K.eval_bipartition(D, exhaustive_max=14)
    assert abs(r[0]["value"] - exact) < 1e-4


# --- portable SimHash tier --------------------------------------------------


def test_portable_planes_deterministic_and_balanced():
    from diversity_maximization_spark.plans.distance_join import (
        portable_planes,
    )

    p1 = portable_planes(32, 64)
    p2 = portable_planes(32, 64)
    assert p1 == p2
    flat = [v for row in p1 for v in row]
    assert set(flat) == {1.0, -1.0}
    # md5 bits are unbiased: the +1 fraction is near 1/2
    frac = sum(1 for v in flat if v > 0) / len(flat)
    assert 0.4 < frac < 0.6


def test_portable_lsh_subset_of_exact(spark, sf_dir):
    """Every emitted near-dup pair must clear the exact threshold and
    appear in the exact (oracled) dedup_embedding pair set."""
    lsh = {
        (r["vec_a"], r["vec_b"])
        for r in QUERIES["dedup_embedding_lsh"](spark, sf_dir).collect()
    }
    exact = {
        (r["vec_a"], r["vec_b"])
        for r in QUERIES["dedup_embedding"](spark, sf_dir).collect()
    }
    assert lsh <= exact


# --- SemDeDup fold-exact greedy ---------------------------------------------


def test_semdedup_greedy_invariants(spark, sf_dir):
    from diversity_maximization_spark.llm.simsearch import SEMDEDUP_THRESHOLD

    rows = QUERIES["dedup_semdedup"](spark, sf_dir).collect()
    n = load(spark, sf_dir, "embeddings").count()
    assert len(rows) == n
    # first (lowest vec_id) member of every cluster is always kept
    first = {}
    for r in sorted(rows, key=lambda r: r["vec_id"]):
        first.setdefault(r["cluster"], r)
    assert all(r["kept"] for r in first.values())


def test_semdedup_local_replay(spark, sf_dir):
    """Driver-side replay of the fold-exact greedy must reproduce the
    engine's kept set exactly (bit-identical decisions, not just
    approximately equal)."""
    from diversity_maximization_spark.functions.vector import farthest_first
    from diversity_maximization_spark.llm.simsearch import (
        SEMDEDUP_CLUSTERS,
        SEMDEDUP_THRESHOLD,
        _assign_centroids,
    )

    e = load(spark, sf_dir, "embeddings")
    sample = e.orderBy("vec_id").limit(512).collect()
    Xf = [[float(v) for v in r["embedding"]] for r in sample]
    cidx, _ = farthest_first(Xf, SEMDEDUP_CLUSTERS)
    X = np.array(Xf, dtype=np.float64)
    assigned = (
        _assign_centroids(e, X[cidx], "cluster")
        .select("vec_id", "cluster", "embedding")
        .collect()
    )
    got = {
        r["vec_id"]: (r["cluster"], r["kept"])
        for r in QUERIES["dedup_semdedup"](spark, sf_dir).collect()
    }
    t = SEMDEDUP_THRESHOLD
    by_cluster: dict[int, list] = {}
    for r in sorted(assigned, key=lambda r: r["vec_id"]):
        by_cluster.setdefault(r["cluster"], []).append(r)
    for cl, members in by_cluster.items():
        kept_vecs: list[list[float]] = []
        for r in members:
            v = [float(x) for x in r["embedding"]]
            sq = 0.0
            for x in v:
                sq += x * x
            if sq == 0:
                sq = 1.0
            keep = True
            for kv, ksq in kept_vecs:
                dot = 0.0
                for a, b in zip(v, kv):
                    dot += a * b
                if dot / ((sq**0.5) * (ksq**0.5)) > t:
                    keep = False
                    break
            if keep:
                kept_vecs.append((v, sq))
            assert got[r["vec_id"]] == (cl, keep), (cl, r["vec_id"])


# --- multimodal decode census ------------------------------------------------


def test_multimodal_census_consistent_with_decode(spark, sf_dir):
    """The census must be exactly the decode key minus n_bytes —
    same rows, same values."""
    dec = {
        r["doc_id"]: (r["media_type"], r["width"], r["height"], r["mean_luma"])
        for r in QUERIES["multimodal_decode"](spark, sf_dir).collect()
    }
    cen = {
        r["doc_id"]: (r["media_type"], r["width"], r["height"], r["mean_luma"])
        for r in QUERIES["multimodal_decode_census"](spark, sf_dir).collect()
    }
    assert dec == cen


def test_blas_block_cap():
    from diversity_maximization_spark.plans.distance_join import (
        _BLAS_BLOCK_CELLS,
        _query_block_rows,
    )

    assert _query_block_rows(20_000) * 20_000 <= _BLAS_BLOCK_CELLS
    assert _query_block_rows(1) >= 16
    # tiny corpora never block below 16 rows
    assert _query_block_rows(10**9) == 16


# --- round-6 analytics wave ---------------------------------------------------


def test_arch_lm_invariants(spark, sf_dir):
    r = QUERIES["ts_arch_lm"](spark, sf_dir).collect()
    assert len(r) == 1
    assert r[0]["n"] > 0
    # LM = n * R^2 with R^2 in [0, 1]
    assert 0 <= r[0]["lm_stat"] <= r[0]["n"] + 1e-9
    assert r[0]["arch_effect"] == (r[0]["lm_stat"] > 3.841458820694124)


def test_granger_invariants(spark, sf_dir):
    r = QUERIES["ts_granger"](spark, sf_dir).collect()
    assert len(r) == 1
    # adding a regressor can only lower RSS -> F >= 0
    assert r[0]["f_stat"] >= -1e-9
    assert r[0]["causal"] == (r[0]["f_stat"] > 3.841458820694124)


def test_pareto_front_is_exactly_the_undominated_set(spark, sf_dir):
    rows = QUERIES["agg_pareto_front"](spark, sf_dir).collect()
    sky = {(r["price_cents"], r["p_size"]) for r in rows}
    part = (
        load(spark, sf_dir, "part")
        .selectExpr(
            "p_partkey",
            "CAST(ROUND(p_retailprice * 100) AS BIGINT) AS pc",
            "CAST(p_size AS INT) AS sz",
        )
        .collect()
    )
    pts = [(r["pc"], r["sz"]) for r in part]
    naive = {
        p
        for p in pts
        if not any(
            o[0] <= p[0]
            and o[1] >= p[1]
            and (o[0] < p[0] or o[1] > p[1])
            for o in pts
        )
    }
    assert sky == naive
    # every returned row really is a part row
    assert len(rows) == sum(1 for p in pts if p in naive)


def test_mahalanobis_invariants(spark, sf_dir):
    rows = QUERIES["anomaly_mahalanobis"](spark, sf_dir).collect()
    n = load(spark, sf_dir, "events").select("user_id").distinct().count()
    assert len(rows) == n
    # md2 is a squared distance: non-negative; mean of md2 over the
    # population equals the feature dimension (2) for the population
    # covariance — a textbook identity, here within float tolerance
    vals = [r["md2"] for r in rows]
    assert all(v >= -1e-9 for v in vals)
    assert abs(sum(vals) / len(vals) - 2.0) < 1e-3
    for r in rows[:50]:
        assert r["outlier"] == (r["md2"] > 9.21034037197618) or abs(
            r["md2"] - 9.21034037197618
        ) < 1e-5


def test_pacf_invariants(spark, sf_dir):
    rows = {r["lag"]: r["pacf"] for r in QUERIES["ts_pacf"](spark, sf_dir).collect()}
    assert sorted(rows) == [1, 2, 3]
    # a partial autocorrelation is a correlation: |pacf| <= 1 up to
    # float slack on a non-degenerate sample
    assert all(abs(v) <= 1.0 + 1e-9 for v in rows.values())


def test_sharpe_invariants(spark, sf_dir):
    r = QUERIES["ts_sharpe"](spark, sf_dir).collect()
    assert len(r) == 1
    row = r[0]
    assert row["n"] > 0
    # downside variance <= total second moment -> |sortino| >= |sharpe|
    # whenever the mean return is positive and both are finite
    import math

    assert math.isfinite(row["sharpe_annualized"])
    assert math.isfinite(row["sortino_annualized"])
    if row["sharpe_annualized"] > 0:
        assert row["sortino_annualized"] >= row["sharpe_annualized"] * 0.5


def test_pca_power_matches_numpy_top_eigvec(spark, sf_dir):
    """The quantized power iterate must align with numpy's leading
    eigenvector of the uncentered second moment X^T X (the quantity
    the scaled-integer recurrence approximates): |cos| >= 0.99."""
    rows = QUERIES["embed_pca_power"](spark, sf_dir).collect()
    assert len(rows) == 64
    v = np.zeros(64)
    for r in rows:
        v[r["dim"]] = r["loading_scaled"]
    X = np.stack(
        [
            r["embedding"]
            for r in load(spark, sf_dir, "embeddings")
            .select("embedding")
            .collect()
        ]
    ).astype(np.float64)
    w, V = np.linalg.eigh(X.T @ X)
    top = V[:, -1]
    cos = abs(v @ top) / (np.linalg.norm(v) * np.linalg.norm(top))
    assert cos >= 0.99
    # sign convention: the max-|loading| dim is positive (tie: lowest)
    j = int(np.argmax(np.abs(v)))
    assert v[j] > 0


def test_matrix_profile_invariants(spark, sf_dir):
    rows = QUERIES["ts_matrix_profile"](spark, sf_dir).collect()
    n_days = (
        load(spark, sf_dir, "orders")
        .select(F.date_trunc("day", "o_orderdate"))
        .distinct()
        .count()
    )
    # one profile row per window start
    assert len(rows) == n_days - 8 + 1
    assert all(r["d2"] >= 0 for r in rows)
    # the neighbor is never the window itself
    assert all(r["nn_day"] != r["day"] for r in rows)


def test_dtw_bounds(spark, sf_dir):
    r = QUERIES["ts_dtw"](spark, sf_dir).collect()
    assert len(r) == 1
    row = r[0]
    assert row["dtw_l1"] >= 0
    # the banded DTW is upper-bounded by the rigid (diagonal-path)
    # alignment, which the band always contains
    from diversity_maximization_spark.operators.timeseries import (
        _DTW_NATIONS,
    )

    o = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    nrev = (
        o.join(cust, o["o_custkey"] == cust["c_custkey"])
        .join(nat, F.col("c_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name").isin(*_DTW_NATIONS))
        .groupBy(F.date_trunc("day", "o_orderdate").alias("day"), "n_name")
        .agg(
            F.expr(
                "sum(CAST(ROUND(o_totalprice * 100) AS BIGINT)) div 100"
            ).alias("d")
        )
    )
    cal = o.select(F.date_trunc("day", "o_orderdate").alias("day")).distinct()
    ser = (
        cal.join(nrev, "day", "left")
        .groupBy("day")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("n_name") == _DTW_NATIONS[0], F.col("d"))),
                F.lit(0),
            ).alias("a"),
            F.coalesce(
                F.max(F.when(F.col("n_name") == _DTW_NATIONS[1], F.col("d"))),
                F.lit(0),
            ).alias("b"),
        )
        .collect()
    )
    rigid = sum(abs(int(r2["a"]) - int(r2["b"])) for r2 in ser)
    assert row["dtw_l1"] <= rigid
    assert row["n_days"] == len(ser)


def test_seq_pattern_support_bounds(spark, sf_dir):
    rows = QUERIES["seq_pattern_support"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 25
    n_cust = (
        load(spark, sf_dir, "orders").select("o_custkey").distinct().count()
    )
    for r in rows:
        assert 0 < r["support"] <= n_cust
        assert abs(r["support_frac"] - r["support"] / n_cust) < 1e-12


def test_isotonic_calibration_is_monotone_and_mass_conserving(spark, sf_dir):
    rows = QUERIES["agg_isotonic_calibration"](spark, sf_dir).collect()
    rows.sort(key=lambda r: r["block_idx"])
    rates = [r["iso_rate"] for r in rows]
    assert rates == sorted(rates)  # the whole point of PAVA
    # strictly increasing across blocks (equal rates would have merged)
    assert all(a < b for a, b in zip(rates, rates[1:]))
    # blocks tile the 20 bins exactly and conserve counts
    assert rows[0]["bin_from"] == 1 and rows[-1]["bin_to"] == 20
    for a, b in zip(rows, rows[1:]):
        assert b["bin_from"] == a["bin_to"] + 1
    n = load(spark, sf_dir, "orders").count()
    assert sum(r["n_rows"] for r in rows) == n
    pos = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .count()
    )
    assert sum(r["pos_sum"] for r in rows) == pos


def test_k_truss_supports_match_local_recount(spark, sf_dir):
    """Every surviving edge's support must equal the triangle count
    a local adjacency-set recount finds inside the truss, and clear
    the k-2 threshold."""
    from diversity_maximization_spark.operators.graph import TRUSS_K

    rows = QUERIES["graph_k_truss"](spark, sf_dir).collect()
    edges = {(r["u"], r["v"]) for r in rows}
    adj: dict = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    for r in rows:
        s_local = len(adj[r["u"]] & adj[r["v"]])
        assert s_local == r["support"]
        assert r["support"] >= TRUSS_K - 2


def test_periodogram_matches_float_trig(spark, sf_dir):
    """The quantized-literal DFT power must agree with a float-trig
    numpy recomputation to ~1e-4 relative (quantization at 1e-6 per
    trig value over <= 2.4k terms)."""
    import math

    rows = {
        r["period"]: r for r in QUERIES["ts_periodogram"](spark, sf_dir).collect()
    }
    assert sorted(rows) == [7, 30, 91, 365]
    daily = (
        load(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("day", "o_orderdate").alias("day"))
        .agg(
            F.expr(
                "sum(CAST(ROUND(o_totalprice * 100) AS BIGINT)) div 100"
            ).alias("x")
        )
        .orderBy("day")
        .collect()
    )
    xs = [int(r["x"]) for r in daily]
    for p, row in rows.items():
        sc = sum(x * math.cos(2 * math.pi * (t % p) / p) for t, x in enumerate(xs))
        ss = sum(x * math.sin(2 * math.pi * (t % p) / p) for t, x in enumerate(xs))
        ref = sc * sc + ss * ss
        assert row["power"] >= 0
        scale = max(ref, 1.0)
        assert abs(row["power"] - ref) / scale < 1e-4


def test_average_precision_matches_local_recompute(spark, sf_dir):
    r = QUERIES["agg_average_precision"](spark, sf_dir).collect()[0]
    ev = (
        load(spark, sf_dir, "events")
        .select(
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("s"),
            "event_id",
            (F.col("event_type") == "purchase").alias("pos"),
        )
        .collect()
    )
    ev.sort(key=lambda x: (-x["s"], x["event_id"]))
    cum = 0
    total = 0
    n_pos = 0
    for k, row in enumerate(ev, start=1):
        if row["pos"]:
            cum += 1
            n_pos += 1
            total += (cum * 10**9) // k
    assert r["n_pos"] == n_pos
    assert r["ap_nano_sum"] == total
    assert 0.0 < r["average_precision"] <= 1.0


def test_permutation_patterns_cover_all_windows(spark, sf_dir):
    rows = QUERIES["ts_permutation_patterns"](spark, sf_dir).collect()
    assert len(rows) <= 6
    assert all(
        sorted(r["pattern"]) == ["0", "1", "2"] for r in rows
    )
    n_days = (
        load(spark, sf_dir, "orders")
        .select(F.date_trunc("day", "o_orderdate"))
        .distinct()
        .count()
    )
    assert sum(r["n_windows"] for r in rows) == n_days - 2
    assert abs(sum(r["frac"] for r in rows) - 1.0) < 1e-9


def test_heaps_law_is_sane(spark, sf_dir):
    r = QUERIES["corpus_heaps_law"](spark, sf_dir).collect()[0]
    # the fixture vocabulary saturates early, so beta lands in
    # [0, 1): 0.0 exactly when all 10 checkpoints see the full vocab
    # (the "template corpus" signal), strictly below 1 always
    assert 0.0 <= r["beta"] < 1.0
    assert r["vocab_final"] > 0 and r["tokens_final"] >= r["vocab_final"]
    import math

    if r["beta"] > 0.0:
        pred = r["intercept_ln"] + r["beta"] * math.log(r["tokens_final"])
        assert abs(pred - math.log(r["vocab_final"])) < 0.5
    else:
        # flat fit: the intercept IS the (log) saturated vocabulary
        assert abs(r["intercept_ln"] - math.log(r["vocab_final"])) < 1e-3


def test_bland_altman_flags_match_bounds(spark, sf_dir):
    r = QUERIES["agg_bland_altman"](spark, sf_dir).collect()[0]
    assert r["loa_lo"] < r["mean_diff_micro"] < r["loa_hi"]
    assert r["sd_diff_micro"] > 0
    assert 0 <= r["n_outside"] <= r["n_orders"]
    # ~95% limits: the outside fraction should be small
    assert r["n_outside"] / r["n_orders"] < 0.15


def test_katz_dominates_isolated_and_respects_degree(spark, sf_dir):
    rows = QUERIES["graph_katz"](spark, sf_dir).collect()
    assert len(rows) == 25
    base = 10**12
    # every score >= the base mass; bounded by the geometric fixpoint
    for r in rows:
        assert base <= r["katz_scaled"] <= int(base / (1 - 24 / 64)) + 1


def test_rec_eval_popularity_bounds(spark, sf_dir):
    r = QUERIES["rec_eval_popularity"](spark, sf_dir).collect()[0]
    assert 0 < r["n_customers"]
    assert 0 <= r["hits_at_10"] <= r["hits_at_50"] <= r["n_customers"]
    assert 0.0 <= r["mrr"] <= 1.0
    # rr is bounded by hit@50 (each hit contributes at most 1e9)
    assert r["rr_nano_sum"] <= r["hits_at_50"] * 10**9


def test_nelson_aalen_tracks_km(spark, sf_dir):
    """H(t) and -ln S(t) must agree to first order; both estimators
    run on the identical risk table."""
    import math

    na = {r["day"]: r for r in QUERIES["survival_nelson_aalen"](spark, sf_dir).collect()}
    km = {r["day"]: r for r in QUERIES["survival_km"](spark, sf_dir).collect()}
    assert set(na) == set(km)
    for day, r in na.items():
        assert r["n_at_risk"] == km[day]["n_at_risk"]
        assert r["n_events"] == km[day]["n_events"]
        # cumhaz is monotone, positive, and -ln(S) >= H >= 0
        h = r["cumhaz"]
        s = km[day]["survival"]
        assert h >= 0 and r["se"] >= 0
        if s > 0:  # S hits exactly 0 when the last risk set dies out
            assert -math.log(s) >= h - 1e-9


def test_stratified_att_bounds(spark, sf_dir):
    r = QUERIES["agg_stratified_att"](spark, sf_dir).collect()[0]
    assert 0 < r["n_strata"] <= 10
    assert r["n_treated"] > 0
    # the priority label is assigned independently of value in the
    # synthetic fixture, so the adjusted effect is small relative to
    # the raw mean order value (~150k dollars-scale)
    assert abs(r["att_dollars"]) < 200_000


def test_histogram_census_conserves_pixels(spark, sf_dir):
    rows = QUERIES["multimodal_histogram_census"](spark, sf_dir).collect()
    from collections import defaultdict

    per_doc = defaultdict(int)
    for r in rows:
        assert 0 <= r["bin"] <= 7
        per_doc[r["doc_id"]] += r["n_bytes"]
    n_img = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == 0)
        .count()
    )
    assert len(per_doc) == n_img
    assert all(v == 16 * 16 * 3 for v in per_doc.values())


def test_newey_west_inflation_vs_iid(spark, sf_dir):
    r = QUERIES["ts_newey_west"](spark, sf_dir).collect()[0]
    assert r["n_days"] > 10
    assert r["se_iid"] > 0 and r["se_nw"] > 0
    # the Bartlett kernel keeps the correction PSD, so se_nw can
    # shrink below iid only via negative autocovariance — bounded
    assert r["se_inflation"] > 0.2
    assert abs(r["se_inflation"] - r["se_nw"] / r["se_iid"]) < 1e-12


def test_ece_identity_and_range(spark, sf_dir):
    r = QUERIES["agg_ece"](spark, sf_dir).collect()[0]
    assert r["n_bins"] == 10
    assert 0.0 <= r["ece"] <= 1.0
    assert abs(r["ece"] - r["ece_num"] / r["n_rows"] ** 2) < 1e-15


def test_raking_matches_margins(spark, sf_dir):
    """After 4 IPF pairs the column margins are matched exactly (the
    last step scales columns) and row margins to quantization
    tolerance."""
    rows = QUERIES["agg_raking"](spark, sf_dir).collect()
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    rg = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    oc = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(rg, F.col("n_regionkey") == F.col("r_regionkey"))
    )
    tp = {
        x["o_orderpriority"]: x["t"]
        for x in oc.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("t"))
        .collect()
    }
    tr = {
        x["r_name"]: x["t"]
        for x in oc.groupBy("r_name").agg(F.count(F.lit(1)).alias("t")).collect()
    }
    from collections import defaultdict

    col = defaultdict(int)
    row = defaultdict(int)
    for x in rows:
        col[x["region"]] += x["weight_micro"]
        row[x["priority"]] += x["weight_micro"]
    for k, v in col.items():
        assert abs(v / 1e6 - tr[k]) < 0.01  # exact up to floor-div dust
    for k, v in row.items():
        assert abs(v / 1e6 - tp[k]) / tp[k] < 0.01  # one col-step behind


def test_qte_deciles_are_order_statistics(spark, sf_dir):
    rows = {r["decile"]: r for r in QUERIES["agg_qte"](spark, sf_dir).collect()}
    assert sorted(rows) == list(range(10, 100, 10))
    # quantiles are monotone within each arm
    qt = [rows[p]["q_treated_cents"] for p in sorted(rows)]
    qc = [rows[p]["q_control_cents"] for p in sorted(rows)]
    assert qt == sorted(qt) and qc == sorted(qc)
    # spot-check the control median against a local recompute
    vals = sorted(
        r["c"]
        for r in load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .select(F.expr("CAST(round(o_totalprice*100) AS BIGINT)").alias("c"))
        .collect()
    )
    k = (50 * len(vals) + 99) // 100
    assert rows[50]["q_control_cents"] == vals[k - 1]


def test_gamma_mom_moments(spark, sf_dir):
    r = QUERIES["agg_gamma_mom"](spark, sf_dir).collect()[0]
    assert r["shape_k"] > 0 and r["scale_theta_dollars"] > 0
    # k * theta must reproduce the mean
    assert (
        abs(r["shape_k"] * r["scale_theta_dollars"] - r["mean_dollars"])
        / r["mean_dollars"]
        < 1e-9
    )


def test_price_index_fisher_between_l_and_p(spark, sf_dir):
    r = QUERIES["agg_price_index"](spark, sf_dir).collect()[0]
    assert r["n_parts"] > 0
    lo, hi = sorted([r["laspeyres"], r["paasche"]])
    assert lo - 1e-12 <= r["fisher"] <= hi + 1e-12  # geometric mean
    assert 0.5 < r["fisher"] < 2.0  # no hyperinflation in the fixture


# --- continuation-session wave 54: MACD / CvM / Tukey HSD ------------------


def test_macd_identities(spark, sf_dir):
    rows = QUERIES["ts_macd"](spark, sf_dir).orderBy("day").collect()
    n_days = (
        load(spark, sf_dir, "orders")
        .select(F.date_trunc("day", "o_orderdate"))
        .distinct()
        .count()
    )
    assert len(rows) == n_days
    first = rows[0]
    assert first["macd"] == 0.0 and first["signal_line"] == 0.0
    for r in rows:
        assert r["histogram"] == r["macd"] - r["signal_line"]
        assert abs(r["macd"] - (r["ema_fast"] - r["ema_slow"])) < 1e-9
    # the fast EMA tracks the last value more closely than the slow one
    last = rows[-1]
    assert abs(last["ema_fast"] - last["revenue"]) <= abs(
        last["ema_slow"] - last["revenue"]
    ) or abs(last["macd"]) < 1e-6


def test_cvm_matches_local_rank_recompute(spark, sf_dir):
    r = QUERIES["agg_cvm_test"](spark, sf_dir).collect()[0]
    rows = (
        load(spark, sf_dir, "orders")
        .select(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            .otherwise(0)
            .alias("tr"),
            F.expr("CAST(round(o_totalprice*100) AS BIGINT)").alias("sc"),
            "o_orderkey",
        )
        .collect()
    )
    ordered = sorted(rows, key=lambda x: (x["sc"], x["o_orderkey"]))
    n = sum(1 for x in ordered if x["tr"] == 1)
    m = len(ordered) - n
    assert (r["n_treated"], r["n_control"]) == (n, m)
    it = ic = 0
    u = 0
    st = sc_ = 0
    for pos, x in enumerate(ordered, start=1):
        if x["tr"] == 1:
            it += 1
            st += (pos - it) ** 2
        else:
            ic += 1
            sc_ += (pos - ic) ** 2
    u = n * st + m * sc_
    assert r["u_stat"] == float(u)
    t = float(u) / (float(n) * float(m) * float(n + m)) - float(
        4 * n * m - 1
    ) / float(6 * (n + m))
    assert abs(r["t_stat"] - t) < 1e-12


def test_tukey_hsd_pairs(spark, sf_dir):
    rows = QUERIES["agg_tukey_hsd"](spark, sf_dir).collect()
    assert len(rows) == 10  # C(5,2)
    prios = set()
    for r in rows:
        assert r["prio_a"] < r["prio_b"]
        assert r["q_stat"] >= 0 and r["se_dollars"] > 0
        assert (
            abs(r["q_stat"] - (r["mean_diff_dollars"] / r["se_dollars"]))
            < 1e-6 * max(1.0, r["q_stat"])
        )
        prios |= {r["prio_a"], r["prio_b"]}
    assert len(prios) == 5
    assert len({r["df_error"] for r in rows}) == 1


# --- continuation-session wave 55: SPC / randomness / survey audit ---------


def test_turning_points_matches_local(spark, sf_dir):
    r = QUERIES["ts_turning_points"](spark, sf_dir).collect()[0]
    daily = sorted(
        (row["day"], row["c"])
        for row in load(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("day", "o_orderdate").alias("day"))
        .agg(F.sum(F.expr("CAST(ROUND(o_totalprice*100) AS BIGINT)")).alias("c"))
        .collect()
    )
    vals = [c for _, c in daily]
    tp = sum(
        1
        for i in range(1, len(vals) - 1)
        if (vals[i] > vals[i - 1] and vals[i] > vals[i + 1])
        or (vals[i] < vals[i - 1] and vals[i] < vals[i + 1])
    )
    assert r["n_days"] == len(vals) and r["n_turning"] == tp
    assert abs(r["expected"] - 2 * (len(vals) - 2) / 3) < 1e-9


def test_control_chart_limits(spark, sf_dir):
    r = QUERIES["ts_control_chart"](spark, sf_dir).collect()[0]
    assert r["lcl_dollars"] < r["center_dollars"] < r["ucl_dollars"]
    assert abs(
        (r["ucl_dollars"] - r["center_dollars"]) - 2.66 * r["mr_bar_dollars"]
    ) < 1e-9
    # violations are a small minority of days on any sane series
    assert r["n_above_ucl"] + r["n_below_lcl"] < r["n_days"] / 4


def test_design_effect_identities(spark, sf_dir):
    r = QUERIES["agg_design_effect"](spark, sf_dir).collect()[0]
    assert r["deff"] >= 1.0  # Cauchy-Schwarz
    assert r["n_eff"] <= r["n_orders"]
    assert abs(r["deff"] * r["n_eff"] - r["n_orders"]) / r["n_orders"] < 1e-12
    assert abs(r["cv_weights"] ** 2 - (r["deff"] - 1)) < 1e-9


def test_grubbs_statistic(spark, sf_dir):
    r = QUERIES["agg_grubbs"](spark, sf_dir).collect()[0]
    import math

    n = r["n_orders"]
    # G is bounded by (n-1)/sqrt(n) for any sample
    assert 0 < r["g_stat"] <= (n - 1) / math.sqrt(n)
    assert abs(r["g_stat"] - r["max_dev_dollars"] / r["sd_dollars"]) < 1e-9


# --- continuation-session wave 56: Kalman / SampEn / NB-MoM / audio census -


def test_kalman_level_convergence(spark, sf_dir):
    rows = QUERIES["ts_kalman_level"](spark, sf_dir).orderBy("day").collect()
    assert rows[0]["gain"] == 0.0 and rows[0]["level"] == rows[0]["observed"]
    # posterior variance decreases from the diffuse seed and stabilizes
    assert rows[0]["p_var"] > rows[-1]["p_var"]
    gains = [r["gain"] for r in rows[1:]]
    # steady-state prior variance S solves S^2 - QS - QR = 0;
    # the converged gain is K* = S/(S+R)
    import math

    from diversity_maximization_spark.operators.timeseries import (
        KALMAN_Q,
        KALMAN_R,
    )

    s_ss = (KALMAN_Q + math.sqrt(KALMAN_Q**2 + 4 * KALMAN_Q * KALMAN_R)) / 2
    kss = s_ss / (s_ss + KALMAN_R)
    assert abs(gains[-1] - kss) < 1e-6
    # level stays inside the observed envelope
    zs = [r["observed"] for r in rows]
    assert min(zs) <= rows[-1]["level"] <= max(zs)


def test_sample_entropy_counts(spark, sf_dir):
    r = QUERIES["ts_sample_entropy"](spark, sf_dir).collect()[0]
    # A-templates are a subset of B-matches (extra coordinate only cuts)
    assert 0 < r["a_count"] <= r["b_count"]
    assert 0 < r["ratio"] <= 1
    import math

    assert abs(r["sampen"] - (-round(math.log(r["ratio"]) * 1e6) / 1e6)) < 2e-6
    assert r["thr_cents"] > 0


def test_negbin_mom_identities(spark, sf_dir):
    r = QUERIES["agg_negbin_mom"](spark, sf_dir).collect()[0]
    assert abs(r["dispersion"] - r["var_orders"] / r["mean_orders"]) < 1e-12
    # NB2 identity: var reproduced from (r, mu)
    mu, rs = r["mean_orders"], r["r_size"]
    assert abs((mu + mu * mu / rs) - r["var_orders"]) < 1e-6 * r["var_orders"]
    assert 0 < r["p_success"] < 1 or rs < 0  # equidispersed fixture guard


def test_audio_energy_census_matches_decode(spark, sf_dir):
    rows = QUERIES["multimodal_audio_energy_census"](spark, sf_dir).collect()
    from diversity_maximization_spark.llm.multimodal import (
        WAV_SAMPLES,
        _synth_payload,
        wav_decode,
    )

    docs = {
        r["doc_id"]: r["text"]
        for r in load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == 1)
        .select("doc_id", "text")
        .collect()
    }
    assert len(rows) == 8 * len(docs)
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], {})[r["win"]] = r
    # spot-check three docs against a direct local decode
    for doc_id in sorted(docs)[:3]:
        _n, _rate, samples = wav_decode(
            _synth_payload(doc_id, docs[doc_id], "audio/wav")
        )
        assert _n == WAV_SAMPLES
        for w in range(8):
            seg = samples[50 * w : 50 * w + 50]
            got = by_doc[doc_id][w]
            assert got["abs_sum"] == sum(abs(s) for s in seg)
            assert got["zero_crossings"] == sum(
                1 for a, b in zip(seg, seg[1:]) if (a >= 0) != (b >= 0)
            )


# --- continuation-session wave 57: scoring / agreement / count fits --------


def test_log_loss_vs_brier_family(spark, sf_dir):
    r = QUERIES["agg_log_loss"](spark, sf_dir).collect()[0]
    b = QUERIES["agg_brier_score"](spark, sf_dir).collect()[0]
    assert r["n_test"] == b["n_test"]  # same split, same frame
    assert r["log_loss"] > 0
    # refit can't beat the refitted-rate optimum by construction
    assert r["log_loss_refitted"] <= r["log_loss"] + 1e-9
    assert r["skill_vs_refit"] <= 0 + 1e-9


def test_fleiss_kappa_range(spark, sf_dir):
    r = QUERIES["agg_fleiss_kappa"](spark, sf_dir).collect()[0]
    n4 = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .count()
        .filter(F.col("count") == 4)
        .count()
    )
    assert r["n_items"] == n4
    assert 0 <= r["p_bar"] <= 1 and 0 < r["p_e"] < 1
    assert -1 <= r["kappa"] <= 1


def test_cochrans_q_local_recompute(spark, sf_dir):
    r = QUERIES["agg_cochrans_q"](spark, sf_dir).collect()[0]
    rows = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("t1"),
            F.max(
                F.when(F.expr("CAST(round(l_discount*100) AS BIGINT)") >= 6, 1)
                .otherwise(0)
            ).alias("t2"),
            F.max(
                F.when(F.expr("CAST(round(l_quantity) AS BIGINT)") >= 40, 1)
                .otherwise(0)
            ).alias("t3"),
        )
        .collect()
    )
    c = [sum(x["t1"] for x in rows), sum(x["t2"] for x in rows),
         sum(x["t3"] for x in rows)]
    sr2 = sum((x["t1"] + x["t2"] + x["t3"]) ** 2 for x in rows)
    t = sum(c)
    q = 2 * (3 * sum(ci * ci for ci in c) - t * t) / (3 * t - sr2)
    assert (r["c_returns"], r["c_discounted"], r["c_bulk"]) == tuple(c)
    assert abs(r["q_stat"] - q) < 1e-9
    assert r["q_stat"] >= 0


def test_lognormal_mom_identities(spark, sf_dir):
    r = QUERIES["agg_lognormal_mom"](spark, sf_dir).collect()[0]
    g = QUERIES["agg_gamma_mom"](spark, sf_dir).collect()[0]
    import math

    assert r["sigma_log"] > 0
    # implied median must undercut the mean for a right-skewed fit
    assert r["median_dollars"] < g["mean_dollars"]
    # mu reproduces the median
    assert (
        abs(math.exp(r["mu_log_cents"]) / 100 - r["median_dollars"]) < 0.01
    )


# --- continuation-session wave 58: squares / CCF / G-test / motion ---------


def test_square_count_consistency(spark, sf_dir):
    r = QUERIES["graph_square_count"](spark, sf_dir).collect()[0]
    t = QUERIES["graph_triangle_count"](spark, sf_dir).collect()[0]
    assert r["n_vertices"] == t["n_vertices"]
    assert r["n_edges"] == t["n_edges"]
    assert r["n_squares"] >= 0
    # every adjacent pair is also a path-2 pair in a graph with triangles,
    # so connected pairs dominate the edge count whenever triangles exist
    if t["n_triangles"] > 0:
        assert r["n_path2_pairs"] > 0


def test_ccf_lag_zero_is_pearson_and_bounded(spark, sf_dir):
    rows = {r["lag"]: r for r in QUERIES["ts_ccf"](spark, sf_dir).collect()}
    assert sorted(rows) == list(range(-7, 8))
    for r in rows.values():
        assert -1.0000001 <= r["ccf"] <= 1.0000001
        assert r["n_pairs"] > 0
    # overlap shrinks monotonically away from lag 0
    assert rows[0]["n_pairs"] >= rows[7]["n_pairs"]
    assert rows[0]["n_pairs"] >= rows[-7]["n_pairs"]


def test_g_test_vs_mutual_info(spark, sf_dir):
    r = QUERIES["agg_g_test"](spark, sf_dir).collect()[0]
    assert r["df"] == (5 - 1) * (3 - 1)
    assert r["n_cells"] <= 15
    # G = 2N * MI(nats); both measured on observed cells, so the
    # identity holds up to the 1e-6 ln quantization per cell
    assert r["g_stat"] >= -0.1  # LR statistic is >= 0 up to quantization


def test_video_motion_census_matches_local(spark, sf_dir):
    rows = QUERIES["multimodal_video_motion_census"](spark, sf_dir).collect()
    from diversity_maximization_spark.llm.multimodal import (
        N_TOTAL_FRAMES,
        _synth_payload,
        mpng_decode,
        png_decode,
    )

    docs = {
        r["doc_id"]: r["text"]
        for r in load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == 2)
        .select("doc_id", "text")
        .collect()
    }
    assert len(rows) == (N_TOTAL_FRAMES - 1) * len(docs)
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], {})[r["frame"]] = r["motion_abs_sum"]
    for doc_id in sorted(docs)[:2]:
        frames = [
            png_decode(fp)[2]
            for fp in mpng_decode(
                _synth_payload(doc_id, docs[doc_id], "video/mpng")
            )
        ]
        for i in range(1, len(frames)):
            want = sum(abs(x - y) for x, y in zip(frames[i], frames[i - 1]))
            assert by_doc[doc_id][i] == want


# --- continuation-session wave 59: wavelets / diffusion / cluster sample ---


def test_haar_parseval_identity(spark, sf_dir):
    rows = QUERIES["ts_haar_energy"](spark, sf_dir).collect()
    assert sorted(r["level"] for r in rows) == list(range(1, 11))
    for r in rows:
        assert r["n_coeffs"] == 1024 >> r["level"]
    daily = sorted(
        (row["day"], row["c"])
        for row in load(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("day", "o_orderdate").alias("day"))
        .agg(F.sum(F.expr("CAST(ROUND(o_totalprice*100) AS BIGINT)")).alias("c"))
        .collect()
    )[:1024]
    xs = [c for _, c in daily]
    total_sq = sum(x * x for x in xs)
    mean_term = sum(xs) ** 2 / 1024
    power_sum = sum(r["power"] for r in rows)
    # exact Parseval: sum_l power_l + (sum x)^2/N == sum x^2
    assert abs(power_sum + mean_term - total_sq) / total_sq < 1e-12


def test_bass_diffusion_fit_quality(spark, sf_dir):
    r = QUERIES["ts_bass_diffusion"](spark, sf_dir).collect()[0]
    assert r["n_days"] > 0
    # the OLS solution must satisfy the first normal equation:
    # sum residuals == 0  <=>  sy = a*n + b*m1 + c*m2 (reconstructed)
    s = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "signup")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("st"))
        .orderBy("day")
        .collect()
    )
    nprev, acc = [], 0
    for row in s:
        nprev.append(acc)
        acc += row["st"]
    sy = sum(row["st"] for row in s)
    pred = sum(
        r["coef_a"] + r["coef_b"] * n + r["coef_c"] * n * n for n in nprev
    )
    assert abs(pred - sy) / sy < 1e-6
    # stationary fixture: the S-curve guard must behave consistently
    disc = r["coef_b"] ** 2 - 4 * r["coef_a"] * r["coef_c"]
    if disc >= 0 and r["coef_c"] < 0:
        assert r["market_m"] is not None and r["market_m"] > 0
    else:
        assert r["market_m"] is None


def test_cluster_two_stage_hash_selection(spark, sf_dir):
    r = QUERIES["sample_cluster_two_stage"](spark, sf_dir).collect()[0]
    sel = [
        n
        for n in range(25)
        if ((n % 2147483648) * 2654435761 % 4294967296) % 100 < 40
    ]
    assert r["n_psu_selected"] == len(sel)
    assert r["n_sampled"] > 0
    assert r["ht_total_dollars"] != 0
    assert r["se_total_dollars"] >= 0


# --- continuation-session wave 60: greedy tokenizer / unigram entropy ------


def test_greedy_vocab_tokenizer_local_replay(spark, sf_dir):
    rows = {
        r["doc_id"]: r
        for r in QUERIES["tokenize_greedy_vocab"](spark, sf_dir).collect()
    }
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(3)
        .collect()
    )
    # rebuild the deterministic vocab locally
    from collections import Counter

    all_words = Counter()
    for d in load(spark, sf_dir, "documents").select("text").collect():
        for w in d["text"].split(" "):
            if w:
                all_words[w] += 1
    topw = [w for w, _ in sorted(all_words.items(), key=lambda kv: (-kv[1], kv[0]))[:8]]
    bigr = Counter()
    for w, c in all_words.items():
        if len(w) >= 2:
            for p in range(len(w) - 1):
                bigr[w[p : p + 2]] += c
    topb = [t for t, _ in sorted(bigr.items(), key=lambda kv: (-kv[1], kv[0]))[:16]]
    vocab = sorted(set(topw) | set(topb), key=lambda t: (-len(t), t))

    def greedy(w):
        pos = tok = unk = 0
        while pos < len(w):
            best = 0
            for t in vocab:
                if len(t) <= best:
                    break
                if w[pos : pos + len(t)] == t:
                    best = len(t)
                    break
            if best == 0:
                unk += 1
                pos += 1
            else:
                pos += best
            tok += 1
        return tok, unk

    for d in docs:
        words = [w for w in d["text"].split(" ") if w]
        tk = sum(greedy(w)[0] for w in words)
        uk = sum(greedy(w)[1] for w in words)
        got = rows[d["doc_id"]]
        assert (got["n_tokens"], got["n_unk_chars"], got["n_words"]) == (
            tk,
            uk,
            len(words),
        )


def test_unigram_entropy_bounds(spark, sf_dir):
    r = QUERIES["corpus_unigram_entropy"](spark, sf_dir).collect()[0]
    import math

    assert 0 < r["h_nats"] <= math.log(r["vocab_size"]) + 1e-6
    assert abs(r["h_bits"] - r["h_nats"] / math.log(2)) < 1e-9
    # bigram conditional entropy can't exceed the unigram entropy
    bg = QUERIES["corpus_bigram_entropy"](spark, sf_dir).collect()[0]
    cols = {c.lower(): v for c, v in bg.asDict().items()}
    for name, v in cols.items():
        if "nats" in name and v is not None:
            assert v <= r["h_nats"] + 0.05


# --- continuation-session wave 61: trend test / inequality / MASE ----------


def test_jonckheere_matches_bruteforce(spark, sf_dir):
    r = QUERIES["agg_jonckheere"](spark, sf_dir).collect()[0]
    rows = (
        load(spark, sf_dir, "orders")
        .select(
            F.col("o_orderpriority").alias("g"),
            F.expr("CAST(round(o_totalprice*100) AS BIGINT)").alias("sc"),
            F.col("o_orderkey").alias("k"),
        )
        .collect()
    )
    groups = sorted({x["g"] for x in rows})
    by_g = {g: sorted((x["sc"], x["k"]) for x in rows if x["g"] == g) for g in groups}
    j = 0
    for a in range(len(groups)):
        for b in range(a + 1, len(groups)):
            for va in by_g[groups[a]]:
                for vb in by_g[groups[b]]:
                    if va < vb:
                        j += 1
    assert r["j_stat"] == j
    n = len(rows)
    sn2 = sum(len(v) ** 2 for v in by_g.values())
    assert abs(r["e_j"] - (n * n - sn2) / 4) < 1e-9
    assert r["var_j"] > 0


def test_palma_shares(spark, sf_dir):
    r = QUERIES["agg_palma_ratio"](spark, sf_dir).collect()[0]
    assert 0 < r["bottom40_share"] < r["top10_share"] < 1
    assert abs(
        r["palma_ratio"] - r["top10_share"] / r["bottom40_share"]
    ) < 1e-9 * r["palma_ratio"]
    # top decile of a positive distribution holds > 10% of mass
    assert r["top10_share"] > 0.10


def test_seasonal_mase_consistency(spark, sf_dir):
    r = QUERIES["ts_seasonal_mase"](spark, sf_dir).collect()[0]
    assert r["mae_seasonal_dollars"] > 0 and r["mae_naive_dollars"] > 0
    assert abs(
        r["mase"] - r["mae_seasonal_dollars"] / r["mae_naive_dollars"]
    ) < 1e-9


# --- continuation-session wave 62: binary seg / one-sample t / LDP ---------


def test_binary_segmentation_structure(spark, sf_dir):
    rows = QUERIES["ts_binary_segmentation"](spark, sf_dir).collect()
    assert len(rows) == 3
    top = [r for r in rows if r["depth"] == 0][0]
    kids = sorted(
        (r for r in rows if r["depth"] == 1), key=lambda r: r["segment"]
    )
    assert [k["segment"] for k in kids] == [0, 1]
    # left child splits before the top split, right child after
    assert kids[0]["split_after_day"] <= top["split_after_day"]
    assert kids[1]["split_after_day"] > top["split_after_day"]
    # depth-0 split agrees with the single-split key
    best = QUERIES["ts_best_split"](spark, sf_dir).collect()[0]
    assert top["split_after_day"] == best["split_after_day"]


def test_one_sample_t_consistency(spark, sf_dir):
    r = QUERIES["agg_ttest_one_sample"](spark, sf_dir).collect()[0]
    from diversity_maximization_spark.operators.aggregates import (
        TTEST1_MU0_DOLLARS,
    )

    assert abs(
        r["diff_dollars"] - (r["mean_dollars"] - TTEST1_MU0_DOLLARS)
    ) < 1e-9
    assert r["df"] == r["n_orders"] - 1
    # sign of t matches sign of the difference
    assert (r["t_stat"] > 0) == (r["diff_dollars"] > 0)


def test_rr_frequency_debias(spark, sf_dir):
    r = QUERIES["privacy_rr_frequency"](spark, sf_dir).collect()[0]
    assert 0 <= r["observed_rate"] <= 1
    # debias identity
    p = 0.25
    est = (r["observed_rate"] - p) / (1 - 2 * p)
    assert abs(r["estimated_rate"] - est) < 1e-12
    # with a hash coin the estimate lands near the true rate
    assert abs(r["estimated_rate"] - r["true_rate"]) < 0.08


# --- continuation-session wave 63: Holm / LOF ------------------------------


def test_holm_dominates_bonferroni_and_bh_dominates_holm(spark, sf_dir):
    holm = {r["nation"]: r for r in QUERIES["agg_holm_bonferroni"](spark, sf_dir).collect()}
    bh = {r["nation"]: r for r in QUERIES["agg_benjamini_hochberg"](spark, sf_dir).collect()}
    assert set(holm) == set(bh)
    for n, r in holm.items():
        # Holm rejects everything Bonferroni rejects
        if r["rejected_bonferroni"]:
            assert r["rejected_holm"]
        # BH (FDR) rejects everything Holm (FWER) rejects
        if r["rejected_holm"]:
            assert bh[n]["rejected"]
    # the Holm rejection set is a rank prefix
    rejected_ranks = sorted(r["rnk"] for r in holm.values() if r["rejected_holm"])
    assert rejected_ranks == list(range(1, len(rejected_ranks) + 1))


def test_lof_against_local_numpy(spark, sf_dir):
    import numpy as np

    rows = {r["vec_id"]: r for r in QUERIES["anomaly_lof"](spark, sf_dir).collect()}
    e = load(spark, sf_dir, "embeddings").orderBy("vec_id").collect()
    ids = [r["vec_id"] for r in e]
    X = np.array([list(map(float, r["embedding"])) for r in e])
    n = len(ids)
    assert len(rows) == n
    # brute-force recompute for the 5 lowest ids
    d = np.sqrt(((X[:, None, :] - X[None, :, :]) ** 2).sum(-1))
    np.fill_diagonal(d, np.inf)
    k = 10
    order = np.argsort(d, axis=1, kind="stable")
    knn = order[:, :k]
    kdist = np.array([d[i, knn[i, -1]] for i in range(n)])
    reach_sum = np.array(
        [sum(max(kdist[j], d[i, j]) for j in knn[i]) for i in range(n)]
    )
    lrd = k / reach_sum
    lof = np.array([lrd[knn[i]].mean() / lrd[i] for i in range(n)])
    for idx in range(5):
        got = rows[ids[idx]]
        assert abs(got["k_dist"] - kdist[idx]) < 1e-9
        assert abs(got["lof"] - lof[idx]) < 1e-6
    # sanity: most points are inliers (LOF near 1)
    med = sorted(r["lof"] for r in rows.values())[n // 2]
    assert 0.8 < med < 1.3


# --- continuation-session wave 64: RDD / CEM --------------------------------


def test_rdd_placebo_near_zero(spark, sf_dir):
    r = QUERIES["agg_rdd_sharp"](spark, sf_dir).collect()[0]
    assert r["n_left"] > 10 and r["n_right"] > 10
    # synthetic fixture has no discontinuity: placebo effect is small
    assert abs(r["rdd_effect"]) < 0.35
    assert abs(
        r["rdd_effect"]
        - (r["rate_right_at_cutoff"] - r["rate_left_at_cutoff"])
    ) < 1e-12


def test_cem_att_matches_local(spark, sf_dir):
    r = QUERIES["agg_cem_att"](spark, sf_dir).collect()[0]
    rows = (
        load(spark, sf_dir, "orders")
        .join(
            load(spark, sf_dir, "lineitem")
            .groupBy("l_orderkey")
            .agg(F.count(F.lit(1)).alias("y")),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            .otherwise(0)
            .alias("tr"),
            F.expr(
                "CAST(round(o_totalprice*100) AS BIGINT) div 100000"
            ).alias("b"),
            "y",
        )
        .collect()
    )
    from collections import defaultdict

    cells = defaultdict(lambda: [0, 0, 0, 0])
    for x in rows:
        c = cells[x["b"]]
        if x["tr"]:
            c[0] += 1
            c[2] += x["y"]
        else:
            c[1] += 1
            c[3] += x["y"]
    num = n_t = nb = 0
    for b in sorted(cells):
        nt, nc, syt, syc = cells[b]
        if nt > 0 and nc > 0:
            num += syt - nt * syc / nc
            n_t += nt
            nb += 1
    assert r["n_treated_matched"] == n_t
    assert r["n_buckets_matched"] == nb
    assert abs(r["att_lines"] - num / n_t) < 1e-9


# --- continuation-session wave 65: stochastic oscillator / VaR backtest ----


def test_stochastic_oscillator_bounds(spark, sf_dir):
    rows = QUERIES["ts_stochastic_oscillator"](spark, sf_dir).orderBy("day").collect()
    assert len(rows) > 100
    for r in rows:
        assert 0 <= r["pct_k"] <= 100
        if r["pct_d"] is not None:
            assert 0 <= r["pct_d"] <= 100
    # %D is the explicit 3-term mean
    for i in range(2, min(50, len(rows))):
        want = (rows[i]["pct_k"] + rows[i - 1]["pct_k"] + rows[i - 2]["pct_k"]) / 3
        assert abs(rows[i]["pct_d"] - want) < 1e-9


def test_var_backtest_coverage(spark, sf_dir):
    r = QUERIES["ts_var_backtest"](spark, sf_dir).collect()[0]
    assert r["var_95"] < 0 or r["var_95"] < 0.05  # left-tail quantile
    # violations = strictly-below count; must be near the rank cut
    assert 0 < r["n_violations"] <= (5 * r["n_days"] + 99) // 100
    assert r["kupiec_lr"] >= -1e-6  # LR is nonnegative up to quantization


# --- continuation-session wave 66: isolation grid ---------------------------


def test_isolation_grid_properties(spark, sf_dir):
    rows = QUERIES["anomaly_isolation_grid"](spark, sf_dir).collect()
    n = load(spark, sf_dir, "embeddings").count()
    assert len(rows) == n
    for r in rows:
        assert 1 <= r["min_iso_depth"] <= 11
        assert r["min_iso_depth"] <= r["mean_iso_depth"] <= 11
        assert 0 <= r["n_isolated_trees"] <= 8
    # LOF cross-check: the most isolated points should skew to higher
    # LOF than the deepest points on the shared corpus (rank-level
    # agreement between two different outlier lenses)
    lof = {
        r["vec_id"]: r["lof"]
        for r in QUERIES["anomaly_lof"](spark, sf_dir).collect()
    }
    by_depth = sorted(rows, key=lambda r: r["mean_iso_depth"])
    shallow = [lof[r["vec_id"]] for r in by_depth[:25]]
    deep = [lof[r["vec_id"]] for r in by_depth[-25:]]
    assert sum(shallow) / len(shallow) >= sum(deep) / len(deep) * 0.9


# --- continuation-session wave 67: Pettitt / fairness -----------------------


def test_pettitt_matches_bruteforce(spark, sf_dir):
    r = QUERIES["ts_pettitt"](spark, sf_dir).collect()[0]
    daily = sorted(
        (row["day"], row["c"])
        for row in load(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("day", "o_orderdate").alias("day"))
        .agg(F.sum(F.expr("CAST(ROUND(o_totalprice*100) AS BIGINT)")).alias("c"))
        .collect()
    )
    # tie-broken ranks over (c, day)
    order = sorted(range(len(daily)), key=lambda i: (daily[i][1], daily[i][0]))
    rank = [0] * len(daily)
    for pos, i in enumerate(order, start=1):
        rank[i] = pos
    n = len(daily)
    best = (-1, None)
    sr = 0
    for t in range(1, n):
        sr += rank[t - 1]
        ut = abs(2 * sr - t * (n + 1))
        if ut > best[0]:
            best = (ut, daily[t - 1][0])
    assert r["k_stat"] == best[0]
    assert r["change_day"] == best[1]
    assert r["n_days"] == n


def test_fairness_report_gaps(spark, sf_dir):
    rows = QUERIES["agg_fairness_report"](spark, sf_dir).collect()
    assert len(rows) == 5
    sels = [r["selection_rate"] for r in rows]
    tprs = [r["tpr"] for r in rows]
    g = rows[0]
    assert abs(g["demographic_parity_gap"] - (max(sels) - min(sels))) < 1e-12
    assert abs(g["equal_opportunity_gap"] - (max(tprs) - min(tprs))) < 1e-12
    assert 0 < g["disparate_impact_ratio"] <= 1
    for r in rows:
        assert 0 <= r["fpr"] <= 1 and 0 <= r["tpr"] <= 1


# --- continuation-session wave 68: OR / queueing ----------------------------


def test_littles_law_identity(spark, sf_dir):
    r = QUERIES["agg_littles_law"](spark, sf_dir).collect()[0]
    assert r["n_jobs"] > 0 and r["horizon_hours"] > 0
    # Brumelle/Little identity holds exactly (same integer sums)
    assert abs(r["littles_ratio"] - 1.0) < 1e-9
    assert r["w_mean_minutes"] >= 1.0  # the 1-minute span floor


def test_newsvendor_quantile(spark, sf_dir):
    r = QUERIES["agg_newsvendor"](spark, sf_dir).collect()[0]
    ds = sorted(
        row["d"]
        for row in load(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("day", "o_orderdate").alias("day"))
        .agg(F.count(F.lit(1)).alias("d"))
        .collect()
    )
    k = (9 * len(ds) + 9) // 10
    assert r["q_star_orders"] == ds[k - 1]
    assert r["critical_fractile"] == 0.9
    # q* at the 90th percentile exceeds the mean for any distribution
    # that is not left-degenerate
    assert r["q_star_orders"] >= r["mean_daily_demand"] * 0.9


def test_safety_stock_consistency(spark, sf_dir):
    r = QUERIES["agg_safety_stock"](spark, sf_dir).collect()[0]
    import math

    want = 1.2815515655446004 * r["sd_daily_demand"] * math.sqrt(7)
    assert abs(r["safety_stock_orders"] - want) < 1e-9
    assert abs(
        r["reorder_point_orders"]
        - (r["mean_daily_demand"] * 7 + r["safety_stock_orders"])
    ) < 1e-9


# --- continuation-session wave 69: IPTW / last-digit ------------------------


def test_iptw_matches_stratified_identity(spark, sf_dir):
    r = QUERIES["agg_iptw_ate"](spark, sf_dir).collect()[0]
    # with a saturated (segment-exact) propensity, the Hajek IPTW
    # treated mean equals the plain treated mean within segment
    # weighting; recompute locally
    rows = (
        load(spark, sf_dir, "orders")
        .select(
            F.col("o_orderpriority").alias("seg"),
            F.when(F.col("o_orderkey") % 3 == 0, 1).otherwise(0).alias("tr"),
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        )
        .collect()
    )
    from collections import defaultdict

    c = defaultdict(lambda: [0, 0, 0, 0])
    for x in rows:
        cc = c[x["seg"]]
        cc[0] += 1
        cc[1] += x["tr"]
        cc[2] += x["tr"] * x["y"]
        cc[3] += (1 - x["tr"]) * x["y"]
    swy_t = sw_t = swy_c = sw_c = 0.0
    for seg in sorted(c):
        n, nt, syt, syc = c[seg]
        e = nt / n
        swy_t += syt / e
        sw_t += nt / e
        swy_c += syc / (1 - e)
        sw_c += (n - nt) / (1 - e)
    assert abs(r["ate_iptw"] - (swy_t / sw_t - swy_c / sw_c)) < 1e-9
    assert abs(r["mean_treated_iptw"] - swy_t / sw_t) < 1e-12


def test_last_digit_uniformity(spark, sf_dir):
    rows = QUERIES["agg_last_digit_test"](spark, sf_dir).collect()
    assert sorted(r["digit"] for r in rows) == list(range(10))
    n = sum(r["n_obs"] for r in rows)
    for r in rows:
        assert abs(r["expected"] - n / 10) < 1e-9
        assert r["chi2_term"] >= 0
    # a clean synthetic price population is near-uniform in last digit
    chi2 = sum(r["chi2_term"] for r in rows)
    assert chi2 < 50


# --- continuation-session wave 70: SAX motifs / relational division ---------


def test_sax_words_partition_windows(spark, sf_dir):
    rows = QUERIES["ts_sax_motifs"](spark, sf_dir).collect()
    n_days = (
        load(spark, sf_dir, "orders")
        .select(F.date_trunc("day", "o_orderdate"))
        .distinct()
        .count()
    )
    n_windows = (n_days - 16) // 4 + 1
    assert sum(r["n_occurrences"] for r in rows) == n_windows
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-9
    for r in rows:
        assert 0 <= r["word"] <= 255  # 4 base-4 letters
    # a real series repeats shapes: at least one motif occurs twice
    assert max(r["n_occurrences"] for r in rows) >= 2


def test_division_for_all_semantics(spark, sf_dir):
    rows = QUERIES["join_division"](spark, sf_dir).collect()
    got = {r["c_custkey"] for r in rows}
    per_cust = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.countDistinct("o_orderpriority").alias("k"))
        .collect()
    )
    want = {r["o_custkey"] for r in per_cust if r["k"] == 5}
    assert got == want
    assert all(r["n_required"] == 5 for r in rows)


# --- continuation-session wave 71: item-kNN recommender ---------------------


def test_itemknn_beats_or_matches_popularity_floor(spark, sf_dir):
    knn = QUERIES["rec_eval_itemknn"](spark, sf_dir).collect()[0]
    pop = QUERIES["rec_eval_popularity"](spark, sf_dir).collect()[0]
    assert knn["n_customers"] == pop["n_customers"]
    assert 0 <= knn["hits_at_10"] <= knn["hits_at_50"] <= knn["n_customers"]
    assert knn["mrr"] >= 0
    # personalization on a co-purchase fixture should clear the
    # popularity floor on at least one headline metric
    assert (
        knn["hits_at_50"] >= pop[f"hits_at_50"]
        or knn["mrr"] >= pop["mrr"] * 0.8
    )


# --- continuation-session wave 72: Atkinson / Markowitz / Parkinson ---------


def test_atkinson_bounds(spark, sf_dir):
    r = QUERIES["agg_atkinson"](spark, sf_dir).collect()[0]
    # AM-GM: geomean <= mean, so A_1 in [0, 1)
    assert 0 <= r["atkinson_eps1"] < 1
    assert r["geomean_dollars"] <= r["mean_dollars"]
    assert abs(
        r["atkinson_eps1"] - (1 - r["geomean_dollars"] / r["mean_dollars"])
    ) < 1e-12


def test_min_variance_portfolio(spark, sf_dir):
    r = QUERIES["agg_min_variance_portfolio"](spark, sf_dir).collect()[0]
    assert r["var_x"] > 0 and r["var_y"] > 0
    # the min-variance portfolio never exceeds either single asset
    assert r["min_portfolio_var"] <= min(r["var_x"], r["var_y"]) + 1e-12
    # analytic optimum: derivative zero => recompute matches
    wx = (r["var_y"] - r["cov_xy"]) / (
        r["var_x"] + r["var_y"] - 2 * r["cov_xy"]
    )
    assert abs(r["w_x_min_var"] - wx) < 1e-12


def test_parkinson_positive_and_scaled(spark, sf_dir):
    r = QUERIES["ts_parkinson_vol"](spark, sf_dir).collect()[0]
    assert r["parkinson_vol_daily"] > 0
    import math

    assert abs(
        r["parkinson_vol_annualized"]
        - r["parkinson_vol_daily"] * math.sqrt(252)
    ) < 1e-12


# --- continuation-session wave 73: RMST / meta-analysis ---------------------


def test_rmst_bounded_by_tau_and_km(spark, sf_dir):
    r = QUERIES["survival_rmst"](spark, sf_dir).collect()[0]
    assert 0 < r["rmst_days"] <= r["tau_days"]
    assert 0 <= r["survival_at_tau"] <= 1
    # RMST >= tau * S(tau): the curve never dips below its endpoint
    assert r["rmst_days"] >= r["tau_days"] * r["survival_at_tau"] - 1e-9
    km = QUERIES["survival_km"](spark, sf_dir).collect()
    in_tau = [x for x in km if x["day"] < 365]
    assert r["n_event_days_in_tau"] == len(in_tau)


def test_meta_analysis_identities(spark, sf_dir):
    r = QUERIES["agg_meta_analysis"](spark, sf_dir).collect()[0]
    assert r["k_nations"] > 5
    assert r["se_pooled"] > 0
    assert 0 <= r["i_squared"] < 1
    assert r["q_stat"] >= 0
    # pooled effect lies within the convex hull of study effects
    # (fixed-effect pooling is a weighted average)
    assert -1 <= r["pooled_effect"] <= 1


# --- continuation-session wave 74: DFA ---------------------------------------


def test_dfa_scales_and_alpha(spark, sf_dir):
    rows = QUERIES["ts_dfa"](spark, sf_dir).orderBy("scale").collect()
    assert [r["scale"] for r in rows] == [8, 16, 32, 64, 128, 256]
    n_days = (
        load(spark, sf_dir, "orders")
        .select(F.date_trunc("day", "o_orderdate"))
        .distinct()
        .count()
    )
    for r in rows:
        assert r["n_segments"] == n_days // r["scale"]
        assert r["fluct"] > 0
    # fluctuation grows with scale for any real series
    fl = [r["fluct"] for r in rows]
    assert fl == sorted(fl)
    alpha = rows[0]["dfa_alpha"]
    assert len({r["dfa_alpha"] for r in rows}) == 1
    # white-noise-like daily revenue: alpha near 0.5, far from 1.5
    assert 0.1 < alpha < 1.2


# --- continuation-session wave 75: gravity model -----------------------------


def test_gravity_ols_matches_numpy(spark, sf_dir):
    import math

    import numpy as np

    r = QUERIES["agg_gravity_trade"](spark, sf_dir).collect()[0]
    # rebuild the design locally
    flows = (
        load(spark, sf_dir, "lineitem")
        .join(load(spark, sf_dir, "orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(load(spark, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(load(spark, sf_dir, "supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(F.col("s_nationkey").alias("i"), F.col("c_nationkey").alias("j"))
        .agg(F.sum(F.expr("CAST(round(l_extendedprice*100) AS BIGINT)")).alias("f"))
        .collect()
    )
    regions = {
        x["n_nationkey"]: x["n_regionkey"]
        for x in load(spark, sf_dir, "nation").collect()
    }
    mo, mi = {}, {}
    for x in flows:
        mo[x["i"]] = mo.get(x["i"], 0) + x["f"]
        mi[x["j"]] = mi.get(x["j"], 0) + x["f"]

    def lq(v):
        return math.floor(math.log(v) * 1e6 + 0.5)

    X, Y = [], []
    for x in flows:
        X.append(
            [1.0, lq(mo[x["i"]]) + lq(mi[x["j"]]),
             1.0 if regions[x["i"]] == regions[x["j"]] else 0.0]
        )
        Y.append(lq(x["f"]))
    beta = np.linalg.lstsq(np.array(X), np.array(Y, float), rcond=None)[0]
    assert r["n_pairs"] == len(flows)
    assert abs(r["coef_intercept"] - beta[0]) < 1e-3 * max(1, abs(beta[0]))
    assert abs(r["mass_elasticity"] - beta[1]) < 1e-6 * max(1, abs(beta[1]))
    assert abs(r["same_region_coef"] - beta[2]) < 1e-3 * max(1, abs(beta[2]))
    # mass elasticity of a volume-driven flow matrix is positive
    assert r["mass_elasticity"] > 0


# --- continuation-session wave 76: fixed-width source / Oaxaca ---------------


def test_fixed_width_roundtrip_count_and_types(spark, sf_dir):
    df = QUERIES["source_fixed_width"](spark, sf_dir)
    n = load(spark, sf_dir, "events").count()
    assert df.count() == n
    types = dict(df.dtypes)
    assert types["event_id"] == "bigint" and types["value"] == "double"
    assert types["ts"].startswith("timestamp")


def test_oaxaca_matches_numpy(spark, sf_dir):
    import numpy as np

    r = QUERIES["agg_oaxaca"](spark, sf_dir).collect()[0]
    rows = (
        load(spark, sf_dir, "orders")
        .join(
            load(spark, sf_dir, "lineitem")
            .groupBy("l_orderkey")
            .agg(F.count(F.lit(1)).alias("x")),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            .otherwise(0)
            .alias("tr"),
            F.expr("CAST(round(o_totalprice*100) AS BIGINT)").alias("y"),
            "x",
        )
        .collect()
    )
    out = {}
    for tr in (0, 1):
        xs = np.array([z["x"] for z in rows if z["tr"] == tr], float)
        ys = np.array([float(z["y"]) for z in rows if z["tr"] == tr])
        beta, alpha = np.polyfit(xs, ys, 1)
        out[tr] = (xs.mean(), ys.mean(), beta)
    gap = (out[1][1] - out[0][1]) / 100
    expl = out[0][2] * (out[1][0] - out[0][0]) / 100
    assert abs(r["gap_dollars"] - gap) < 1e-6 * max(1, abs(gap))
    assert abs(r["explained_dollars"] - expl) < 1e-4 * max(1, abs(expl))
    assert abs(
        r["gap_dollars"]
        - (r["explained_dollars"] + r["unexplained_dollars"])
    ) < 1e-9


# --- continuation-session wave 77: seasonal Mann-Kendall --------------------


def test_seasonal_mk_matches_bruteforce(spark, sf_dir):
    r = QUERIES["ts_seasonal_mann_kendall"](spark, sf_dir).collect()[0]
    daily = (
        load(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("day", "ts").alias("day"),
            F.month("ts").alias("m"),
        )
        .agg(F.sum(F.expr("CAST(ROUND(value*100) AS BIGINT)")).alias("c"))
        .collect()
    )
    from collections import defaultdict

    by_m = defaultdict(list)
    for x in daily:
        by_m[x["m"]].append((x["day"], x["c"]))
    s = 0
    var18 = 0
    for m, rows in by_m.items():
        rows.sort()
        vals = [c for _, c in rows]
        for i in range(len(vals)):
            for j in range(i + 1, len(vals)):
                s += (vals[j] > vals[i]) - (vals[j] < vals[i])
        n_m = len(vals)
        tie = 0
        from collections import Counter

        for t in Counter(vals).values():
            tie += t * (t - 1) * (2 * t + 5)
        var18 += n_m * (n_m - 1) * (2 * n_m + 5) - tie
    assert r["s"] == s
    assert abs(r["var_s"] - var18 / 18) < 1e-9


# --- continuation-session wave 78: Cronbach / LMG ----------------------------


def test_cronbach_alpha_range(spark, sf_dir):
    r = QUERIES["agg_cronbach_alpha"](spark, sf_dir).collect()[0]
    # alpha <= 1 always; independent items push it toward 0/negative
    assert r["cronbach_alpha"] <= 1
    assert r["sum_item_var_dollars2"] > 0 and r["total_var_dollars2"] > 0
    want = (4 / 3) * (
        1 - r["sum_item_var_dollars2"] / r["total_var_dollars2"]
    )
    assert abs(r["cronbach_alpha"] - want) < 1e-9


def test_lmg_matches_numpy(spark, sf_dir):
    import numpy as np

    r = QUERIES["agg_lmg_importance"](spark, sf_dir).collect()[0]
    rows = (
        load(spark, sf_dir, "orders")
        .join(
            load(spark, sf_dir, "lineitem")
            .groupBy("l_orderkey")
            .agg(F.count(F.lit(1)).alias("x1")),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(
            F.expr("CAST(round(o_totalprice*100) AS BIGINT)").alias("y"),
            "x1",
            F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            .otherwise(0)
            .alias("x2"),
        )
        .collect()
    )
    y = np.array([float(x["y"]) for x in rows])
    X1 = np.array([float(x["x1"]) for x in rows])
    X2 = np.array([float(x["x2"]) for x in rows])

    def r2(X):
        A = np.column_stack([np.ones_like(y)] + X)
        beta, *_ = np.linalg.lstsq(A, y, rcond=None)
        resid = y - A @ beta
        return 1 - resid.var() / y.var()

    r1, r2_, r12 = r2([X1]), r2([X2]), r2([X1, X2])
    assert abs(r["r2_x1_alone"] - r1) < 1e-9
    assert abs(r["r2_x2_alone"] - r2_) < 1e-9
    assert abs(r["r2_full"] - r12) < 1e-9
    # LMG shares sum to the full R^2
    assert abs(r["lmg_x1"] + r["lmg_x2"] - r["r2_full"]) < 1e-12


# --- continuation-session wave 79: spectral entropy --------------------------


def test_spectral_entropy_bounds(spark, sf_dir):
    import math

    r = QUERIES["ts_spectral_entropy"](spark, sf_dir).collect()[0]
    assert 0 <= r["h_nats"] <= math.log(4) + 1e-6
    assert 0 <= r["h_normalized"] <= 1 + 1e-9
    assert r["dominant_period"] in (7, 30, 91, 365)
    # consistency with the periodogram's own argmax
    pg = QUERIES["ts_periodogram"](spark, sf_dir).collect()
    dom = max(pg, key=lambda x: (x["power"], -x["period"]))["period"]
    assert r["dominant_period"] == dom


# --- continuation-session wave 80: MZ regression / POT-GPD -------------------


def test_mincer_zarnowitz_matches_numpy(spark, sf_dir):
    import numpy as np

    r = QUERIES["ts_mincer_zarnowitz"](spark, sf_dir).collect()[0]
    daily = sorted(
        (row["day"], row["c"])
        for row in load(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("day", "o_orderdate").alias("day"))
        .agg(F.sum(F.expr("CAST(ROUND(o_totalprice*100) AS BIGINT)")).alias("c"))
        .collect()
    )
    vals = [c for _, c in daily]
    y = np.array(vals[7:], float)
    f = np.array(vals[:-7], float)
    b, a = np.polyfit(f, y, 1)
    assert r["n_days"] == len(y)
    assert abs(r["beta"] - b) < 1e-9 * max(1, abs(b))
    assert abs(r["alpha_dollars"] - a / 100) < 1e-6 * max(1, abs(a / 100))
    sse = ((y - (a + b * f)) ** 2).sum()
    sdd = ((y - f) ** 2).sum()
    f_joint = ((sdd - sse) / 2) / (sse / (len(y) - 2))
    assert abs(r["f_joint"] - f_joint) < 1e-6 * max(1, f_joint)
    assert r["f_joint"] >= -1e-9


def test_pot_gpd_moments(spark, sf_dir):
    r = QUERIES["agg_pot_gpd"](spark, sf_dir).collect()[0]
    assert r["n_exceedances"] < 0.06 * r["n_orders"]
    assert r["mean_excess_dollars"] > 0
    # MoM identity: sigma/(1 - xi) reproduces the mean excess when
    # xi < 1 (GPD mean)
    if r["gpd_xi"] < 1:
        implied_mean = r["gpd_sigma_dollars"] / (1 - r["gpd_xi"])
        assert abs(implied_mean - r["mean_excess_dollars"]) < 0.05 * max(
            1, r["mean_excess_dollars"]
        )


# --- continuation-session wave 81: energy distance ---------------------------


def test_energy_distance_matches_bruteforce(spark, sf_dir):
    r = QUERIES["agg_energy_distance"](spark, sf_dir).collect()[0]
    rows = (
        load(spark, sf_dir, "orders")
        .select(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            .otherwise(0)
            .alias("tr"),
            F.expr("CAST(round(o_totalprice*100) AS BIGINT)").alias("c"),
        )
        .collect()
    )
    xs = sorted(x["c"] for x in rows if x["tr"] == 1)
    ys = sorted(x["c"] for x in rows if x["tr"] == 0)

    def pair_sum(v):
        # exact rank identity instead of O(n^2)
        n = len(v)
        return sum((2 * i - 1 - n) * x for i, x in enumerate(v, 1))

    s_t, s_c = pair_sum(xs), pair_sum(ys)
    s_all = pair_sum(sorted(xs + ys))
    nt, nc = len(xs), len(ys)
    ab = (s_all - s_t - s_c) / (nt * nc)
    aa = s_t / (nt * nt)
    bb = s_c / (nc * nc)
    e = 2 * ab - aa - bb
    assert abs(r["energy_dist_dollars"] - e / 100) < 1e-6 * max(1, e / 100)
    assert r["energy_dist_dollars"] >= 0  # E-distance is nonnegative
    # spot: one brute-force cross mean on a small slice
    import random

    random.seed(7)
    sx = random.sample(xs, min(60, len(xs)))
    sy = random.sample(ys, min(60, len(ys)))
    bf = sum(abs(a - b) for a in sx for b in sy) / (len(sx) * len(sy))
    assert abs(bf / 100 - r["mean_cross_dollars"]) < 0.25 * bf / 100


# --- continuation-session wave 82: Halton QMC source -------------------------


def test_halton_low_discrepancy(spark, sf_dir):
    rows = QUERIES["source_quasirandom"](spark, sf_dir).collect()
    assert len(rows) == 4096
    xs = [r["x"] for r in rows]
    ys = [r["y"] for r in rows]
    assert all(0 <= v < 1 for v in xs + ys)
    # local replay of the radical inverse for a few indices
    def rad(i, b, digits):
        v, f = 0, 0
        for k in range(digits):
            v = v * b + (i // b**k) % b
        return v / b**digits

    by_i = {r["i"]: r for r in rows}
    for i in (1, 2, 7, 100, 4095):
        assert abs(by_i[i]["x"] - rad(i, 2, 12)) < 1e-12
        assert abs(by_i[i]["y"] - rad(i, 3, 8)) < 1e-12
    # QMC property: quadrant counts are near-perfectly balanced —
    # far tighter than random sampling's ~1/sqrt(N) noise
    q = [0] * 4
    for x, y in zip(xs, ys):
        q[(x >= 0.5) * 2 + (y >= 0.5)] += 1
    assert max(q) - min(q) < 64


# --- continuation-session wave 83: DM test / Theil U -------------------------


def test_diebold_mariano_vs_mase_direction(spark, sf_dir):
    dm = QUERIES["ts_diebold_mariano"](spark, sf_dir).collect()[0]
    mase = QUERIES["ts_seasonal_mase"](spark, sf_dir).collect()[0]
    # DM's loss differential and MASE's ratio must agree in direction
    if mase["mase"] < 1:
        assert dm["mean_loss_diff_dollars"] < 0
    else:
        assert dm["mean_loss_diff_dollars"] >= 0
    assert dm["n_days"] > 100


def test_theil_u_bounds(spark, sf_dir):
    r = QUERIES["ts_theil_u"](spark, sf_dir).collect()[0]
    assert 0 <= r["theil_u1"] <= 1
    assert r["theil_u2"] > 0


# --- continuation-session wave 84: Benjamini-Yekutieli -----------------------


def test_by_is_most_conservative_fdr(spark, sf_dir):
    by = {r["nation"]: r for r in QUERIES["agg_benjamini_yekutieli"](spark, sf_dir).collect()}
    bh = {r["nation"]: r for r in QUERIES["agg_benjamini_hochberg"](spark, sf_dir).collect()}
    assert set(by) == set(bh)
    for n, r in by.items():
        # BY rejects a subset of BH (its thresholds are c(m) smaller)
        if r["rejected_by"]:
            assert bh[n]["rejected"]
        assert r["by_threshold"] <= bh[n]["bh_threshold"] + 1e-15
    rejected_ranks = sorted(r["rnk"] for r in by.values() if r["rejected_by"])
    assert rejected_ranks == list(range(1, len(rejected_ranks) + 1))


# --- continuation-session wave 85: jackknife variance ------------------------


def test_jackknife_matches_local(spark, sf_dir):
    import math

    r = QUERIES["agg_jackknife_variance"](spark, sf_dir).collect()[0]
    rows = (
        load(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_g"),
            F.sum(F.expr("CAST(round(c_acctbal*100) AS BIGINT)")).alias("s_g"),
        )
        .collect()
    )
    N = sum(x["n_g"] for x in rows)
    S = sum(x["s_g"] for x in rows)
    thetas = [(S - x["s_g"]) / (N - x["n_g"]) for x in rows]
    g = len(rows)
    tb = sum(thetas) / g
    ssq = sum((t - tb) ** 2 for t in thetas)
    se = math.sqrt((g - 1) / g * ssq) / 100
    assert r["n_groups"] == g
    assert abs(r["jackknife_se_dollars"] - se) < 1e-6 * max(1e-9, se)
    assert abs(r["mean_acctbal_dollars"] - S / N / 100) < 1e-9


# --- continuation-session wave 86: Weibull rank fit --------------------------


def test_weibull_rank_fit_matches_numpy(spark, sf_dir):
    import math

    import numpy as np

    r = QUERIES["agg_weibull_rank_fit"](spark, sf_dir).collect()[0]
    vals = sorted(
        x["c"]
        for x in load(spark, sf_dir, "orders")
        .select(F.expr("CAST(round(o_totalprice*100) AS BIGINT)").alias("c"))
        .collect()
    )
    n = len(vals)
    x = np.array(
        [math.floor(math.log(v) * 1e6 + 0.5) for v in vals], float
    )
    y = np.array(
        [
            math.floor(
                math.log(-math.log(1 - (i - 0.375) / (n + 0.25))) * 1e6 + 0.5
            )
            for i in range(1, n + 1)
        ],
        float,
    )
    k, a = np.polyfit(x, y, 1)
    assert abs(r["weibull_shape"] - k) < 1e-6 * max(1, abs(k))
    scale = math.exp(-a / k / 1e6) / 100
    assert abs(r["weibull_scale_dollars"] - scale) < 1e-3 * scale
    assert r["weibull_shape"] > 0


# --- continuation-session wave 87: Hotelling T^2 -----------------------------


def test_hotelling_t2_matches_numpy(spark, sf_dir):
    import numpy as np

    r = QUERIES["agg_hotelling_t2"](spark, sf_dir).collect()[0]
    rows = (
        load(spark, sf_dir, "orders")
        .join(
            load(spark, sf_dir, "lineitem")
            .groupBy("l_orderkey")
            .agg(F.count(F.lit(1)).alias("x")),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            .otherwise(0)
            .alias("tr"),
            F.expr("CAST(round(o_totalprice*100) AS BIGINT)").alias("y"),
            "x",
        )
        .collect()
    )
    A = np.array([[z["x"], z["y"]] for z in rows if z["tr"] == 1], float)
    B = np.array([[z["x"], z["y"]] for z in rows if z["tr"] == 0], float)
    n1, n2 = len(A), len(B)
    d = A.mean(0) - B.mean(0)
    S = ((n1 - 1) * np.cov(A.T) + (n2 - 1) * np.cov(B.T)) / (n1 + n2 - 2)
    t2 = n1 * n2 / (n1 + n2) * d @ np.linalg.solve(S, d)
    assert abs(r["t2_stat"] - t2) < 1e-6 * max(1, t2)
    assert r["t2_stat"] >= 0
    f = (n1 + n2 - 3) / ((n1 + n2 - 2) * 2) * t2
    assert abs(r["f_stat"] - f) < 1e-6 * max(1, f)


# --- continuation-session wave 88: Yuen robust t -----------------------------


def test_yuen_matches_local(spark, sf_dir):
    import math

    r = QUERIES["agg_yuen_test"](spark, sf_dir).collect()[0]
    rows = (
        load(spark, sf_dir, "orders")
        .select(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            .otherwise(0)
            .alias("tr"),
            F.expr("CAST(round(o_totalprice*100) AS BIGINT)").alias("c"),
        )
        .collect()
    )

    def yuen_parts(vals):
        vals = sorted(vals)
        n = len(vals)
        g = (10 * n) // 100
        mid = vals[g : n - g]
        win = [mid[0]] * g + mid + [mid[-1]] * g
        h = len(mid)
        tmean = sum(mid) / h
        sw = sum(win)
        wvar = (sum(v * v for v in win) - sw * sw / n) / (n - 1)
        return n, h, tmean, wvar

    na, ha, ma, va = yuen_parts([x["c"] for x in rows if x["tr"] == 1])
    nb, hb, mb, vb = yuen_parts([x["c"] for x in rows if x["tr"] == 0])
    se = math.sqrt(
        (na - 1) * va / (ha * (ha - 1)) + (nb - 1) * vb / (hb * (hb - 1))
    )
    t = (ma - mb) / se
    assert (r["h_treated"], r["h_control"]) == (ha, hb)
    assert abs(r["yuen_t"] - t) < 1e-9 * max(1, abs(t))


# --- continuation-session wave 89: rank-biserial -----------------------------


def test_rank_biserial_matches_bruteforce(spark, sf_dir):
    r = QUERIES["agg_rank_biserial"](spark, sf_dir).collect()[0]
    rows = (
        load(spark, sf_dir, "orders")
        .select(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            .otherwise(0)
            .alias("tr"),
            F.expr("CAST(round(o_totalprice*100) AS BIGINT)").alias("c"),
        )
        .collect()
    )
    xs = sorted(x["c"] for x in rows if x["tr"] == 1)
    ys = sorted(x["c"] for x in rows if x["tr"] == 0)
    import bisect

    # exact U with half-tie counting via binary search
    u2 = 0  # 2U to stay integer
    for v in xs:
        lt = bisect.bisect_left(ys, v)
        eq = bisect.bisect_right(ys, v) - lt
        u2 += 2 * lt + eq
    assert abs(r["u_mw"] - u2 / 2) < 1e-6
    nm = len(xs) * len(ys)
    assert abs(r["rank_biserial"] - (u2 / nm - 1)) < 1e-9
    assert 0 <= r["common_language_es"] <= 1


# --- continuation-session wave 90: Burrows' Delta ----------------------------


def test_burrows_delta_metric_properties(spark, sf_dir):
    rows = QUERIES["text_burrows_delta"](spark, sf_dir).collect()
    srcs = set()
    for r in rows:
        assert r["src_a"] < r["src_b"]
        assert r["burrows_delta"] >= 0
        srcs |= {r["src_a"], r["src_b"]}
    n = len(srcs)
    assert len(rows) == n * (n - 1) // 2
    # synthetic same-process sources: deltas cluster well below the
    # 2-sigma scale a genuinely different author would produce
    vals = sorted(r["burrows_delta"] for r in rows)
    assert vals[len(vals) // 2] < 2.0


# --- continuation-session wave 91: Page trend test ---------------------------


def test_page_l_matches_bruteforce(spark, sf_dir):
    r = QUERIES["agg_page_trend"](spark, sf_dir).collect()[0]
    cells = (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.year("o_orderdate").alias("yr"),
            F.col("o_orderpriority").alias("prio"),
        )
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice*100) AS BIGINT)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    from collections import defaultdict

    by_yr = defaultdict(list)
    for c in cells:
        by_yr[c["yr"]].append((c["s"] / c["n"], c["prio"]))
    colsum = defaultdict(int)
    for yr, vals in by_yr.items():
        for rank, (_, prio) in enumerate(sorted(vals), start=1):
            colsum[int(prio[0])] += rank
    l = sum(j * rj for j, rj in colsum.items())
    b = len(by_yr)
    assert r["page_l"] == l and r["n_blocks"] == b
    assert abs(r["e_l"] - b * 5 * 36 / 4) < 1e-9


# --- continuation-session wave 92: Moran's I ---------------------------------


def test_morans_i_matches_numpy(spark, sf_dir):
    import numpy as np

    r = QUERIES["agg_morans_i"](spark, sf_dir).collect()[0]
    rows = (
        load(spark, sf_dir, "customer")
        .join(
            load(spark, sf_dir, "nation"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("c_nationkey").alias("nk"), F.col("n_regionkey").alias("rk"))
        .agg(
            F.sum(F.expr("CAST(round(c_acctbal*100) AS BIGINT)")).alias("s"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .collect()
    )
    means = {x["nk"]: x["s"] / x["cnt"] for x in rows}
    regions = {x["nk"]: x["rk"] for x in rows}
    n = len(means)
    mu = sum(means.values()) / n
    z = {k: v - mu for k, v in means.items()}
    w = cross = 0.0
    for a in means:
        for b in means:
            if a != b and regions[a] == regions[b]:
                w += 1
                cross += z[a] * z[b]
    ssz = sum(v * v for v in z.values())
    i = (n / w) * cross / ssz
    assert r["n_nations"] == n and r["n_links"] == w
    assert abs(r["morans_i"] - i) < 1e-9 * max(1, abs(i))
    assert abs(r["e_i_null"] + 1 / (n - 1)) < 1e-12


# --- continuation-session wave 93: Geary's C ---------------------------------


def test_geary_vs_moran_coherence(spark, sf_dir):
    g = QUERIES["agg_geary_c"](spark, sf_dir).collect()[0]
    m = QUERIES["agg_morans_i"](spark, sf_dir).collect()[0]
    assert g["n_nations"] == m["n_nations"]
    assert g["n_links"] == m["n_links"]
    assert g["geary_c"] > 0
    # the two statistics must agree on the SIGN of association:
    # Moran above its null mean iff Geary below 1 (inverse scales)
    if m["morans_i"] > m["e_i_null"] + 0.05:
        assert g["geary_c"] < 1.1
    if m["morans_i"] < m["e_i_null"] - 0.05:
        assert g["geary_c"] > 0.9


# --- continuation-session wave 94: BIC Bayes factor / Amihud -----------------


def test_bic_bf_consistent_with_welch(spark, sf_dir):
    r = QUERIES["agg_bic_bayes_factor"](spark, sf_dir).collect()[0]
    # SSE1 <= SSE0 always (extra parameter can only fit better)
    assert r["sse_two_means_dollars2"] <= r["sse_pooled_dollars2"]
    # identity: 2lnBF = n ln(SSE0/SSE1) - ln n (via quantized lns)
    import math

    n = r["n_orders"]
    want = n * (
        math.floor(math.log(r["sse_pooled_dollars2"] * 1e4) * 1e6 + 0.5) / 1e6
        - math.floor(math.log(r["sse_two_means_dollars2"] * 1e4) * 1e6 + 0.5)
        / 1e6
    ) - math.floor(math.log(n) * 1e6 + 0.5) / 1e6
    assert abs(r["two_ln_bf10"] - want) < 1e-4 * max(1, abs(want))


def test_amihud_positive(spark, sf_dir):
    r = QUERIES["ts_amihud_illiquidity"](spark, sf_dir).collect()[0]
    assert r["amihud_x1e9"] > 0
    assert r["n_days"] > 100


# --- continuation-session wave 95: local Moran's I ---------------------------


def test_local_morans_aggregates_to_global_sign(spark, sf_dir):
    rows = QUERIES["agg_local_morans"](spark, sf_dir).collect()
    g = QUERIES["agg_morans_i"](spark, sf_dir).collect()[0]
    assert len(rows) == g["n_nations"]  # every nation has same-region peers
    for r in rows:
        assert r["quadrant"] in ("HH", "LL", "HL", "LH")
        # quadrant sign logic: HH/LL => positive local I
        if r["quadrant"] in ("HH", "LL"):
            assert r["local_i"] >= -1e-12
        else:
            assert r["local_i"] <= 1e-12
    # the mean local I carries the global statistic's sign direction
    mean_local = sum(r["local_i"] for r in rows) / len(rows)
    assert (mean_local > 0) == (g["morans_i"] > 0) or abs(mean_local) < 0.05


# --- continuation-session wave 96: CR4/CR8 -----------------------------------


def test_cr4_cr8_ordering(spark, sf_dir):
    r = QUERIES["agg_cr4_concentration"](spark, sf_dir).collect()[0]
    assert 0 < r["cr4"] <= r["cr8"] <= 1
    # consistency with a local recompute
    revs = sorted(
        (
            x["r"]
            for x in load(spark, sf_dir, "lineitem")
            .groupBy("l_suppkey")
            .agg(
                F.sum(F.expr("CAST(round(l_extendedprice*100) AS BIGINT)")).alias("r")
            )
            .collect()
        ),
        reverse=True,
    )
    t = sum(revs)
    assert abs(r["cr4"] - sum(revs[:4]) / t) < 1e-12
    assert abs(r["cr8"] - sum(revs[:8]) / t) < 1e-12
    assert r["n_suppliers"] == len(revs)


# --- continuation-session wave 97: Taylor's law ------------------------------


def test_taylors_law_matches_numpy(spark, sf_dir):
    import math

    import numpy as np

    r = QUERIES["agg_taylors_law"](spark, sf_dir).collect()[0]
    rows = (
        load(spark, sf_dir, "orders")
        .join(
            load(spark, sf_dir, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("CAST(round(o_totalprice*100) AS BIGINT)")).alias("s"),
            F.sum(
                F.expr("CAST(round(o_totalprice*100) AS BIGINT)").cast(
                    "decimal(38,0)"
                )
                * F.expr("CAST(round(o_totalprice*100) AS BIGINT)")
            ).cast("double").alias("ss"),
        )
        .collect()
    )
    xs, ys = [], []
    for x in rows:
        if x["n"] > 1:
            mu = x["s"] / x["n"]
            var = (x["ss"] - mu * x["s"]) / (x["n"] - 1)
            xs.append(math.floor(math.log(mu) * 1e6 + 0.5))
            ys.append(math.floor(math.log(var) * 1e6 + 0.5))
    b, a = np.polyfit(np.array(xs, float), np.array(ys, float), 1)
    assert r["n_groups"] == len(xs)
    assert abs(r["taylor_slope_b"] - b) < 1e-9 * max(1, abs(b))
    assert abs(r["ln_a_intercept"] - a / 1e6) < 1e-6 * max(1, abs(a / 1e6))


# --- continuation-session wave 98: Calmar ratio ------------------------------


def test_calmar_consistency(spark, sf_dir):
    r = QUERIES["ts_calmar_ratio"](spark, sf_dir).collect()[0]
    assert 0 < r["max_drawdown"] < 1
    assert abs(
        r["calmar_ratio"] - r["annualized_return"] / r["max_drawdown"]
    ) < 1e-9 * max(1, abs(r["calmar_ratio"]))
    assert abs(
        r["annualized_return"]
        - r["total_return"] * 365 / (r["n_days"] - 1)
    ) < 1e-12


# --- continuation-session wave 99: Kendall's W -------------------------------


def test_kendall_w_bounds_and_friedman_link(spark, sf_dir):
    r = QUERIES["agg_kendall_w"](spark, sf_dir).collect()[0]
    assert 0 <= r["kendall_w"] <= 1
    assert r["n_treatments"] == 5
    want = r["n_blocks"] * (r["n_treatments"] - 1) * r["kendall_w"]
    assert abs(r["friedman_chi2"] - want) < 1e-9


# --- continuation-session wave 100: Hoover index -----------------------------


def test_hoover_identity_and_bounds(spark, sf_dir):
    r = QUERIES["agg_hoover_index"](spark, sf_dir).collect()[0]
    assert 0 <= r["hoover_index"] < 1
    # local exact replay of the mean-deviation identity
    vals = [
        x["sc"]
        for x in load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(F.expr("CAST(round(o_totalprice*100) AS BIGINT)")).alias("sc"))
        .collect()
    ]
    n, s = len(vals), sum(vals)
    sad = sum(abs(n * v - s) for v in vals)
    assert abs(r["hoover_index"] - sad / (2 * n * s)) < 1e-12
    # coherence: Hoover <= Gini for any distribution
    gini_rows = QUERIES["agg_gini"](spark, sf_dir).collect()
    gvals = [
        v
        for row in gini_rows
        for k, v in row.asDict().items()
        if "gini" in k.lower() and isinstance(v, float)
    ]
    if gvals:
        assert r["hoover_index"] <= max(gvals) + 0.02


# --- continuation-session wave 101: price dispersion -------------------------


def test_price_dispersion_matches_local(spark, sf_dir):
    r = QUERIES["agg_price_dispersion"](spark, sf_dir).collect()[0]
    rows = (
        load(spark, sf_dir, "lineitem")
        .select(
            F.expr(
                "(CAST(round(l_extendedprice*100) AS BIGINT) * 1000) div "
                "CAST(round(l_quantity) AS BIGINT)"
            ).alias("p"),
            "l_partkey",
        )
        .collect()
    )
    from collections import defaultdict

    per = defaultdict(list)
    for x in rows:
        per[x["l_partkey"]].append(x["p"])
    n_multi = n_high = 0
    for ps in per.values():
        if len(ps) >= 2:
            n_multi += 1
            n, s, ss = len(ps), sum(ps), sum(p * p for p in ps)
            if 100 * n * (n * ss - s * s) > (n - 1) * s * s:
                n_high += 1
    assert r["n_parts"] == len(per)
    assert r["n_multi_observation_parts"] == n_multi
    assert r["n_high_dispersion_parts"] == n_high


# --- continuation-session wave 102: degree power-law -------------------------


def test_degree_powerlaw_slope_negative(spark, sf_dir):
    r = QUERIES["graph_degree_powerlaw"](spark, sf_dir).collect()[0]
    t = QUERIES["graph_triangle_count"](spark, sf_dir).collect()[0]
    assert r["n_nodes"] == t["n_vertices"]
    assert r["ccdf_loglog_slope"] < 0  # CCDF always decreases
    assert 2 <= r["n_ccdf_points"] <= r["max_degree"]


# --- continuation-session wave 103: Durbin-Watson ----------------------------


def test_durbin_watson_range_and_numpy(spark, sf_dir):
    import numpy as np

    r = QUERIES["ts_durbin_watson"](spark, sf_dir).collect()[0]
    assert 0 < r["durbin_watson"] < 4
    daily = sorted(
        (row["day"], row["c"])
        for row in load(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("day", "o_orderdate").alias("day"))
        .agg(F.sum(F.expr("CAST(ROUND(o_totalprice*100) AS BIGINT)")).alias("c"))
        .collect()
    )
    vals = [c for _, c in daily]
    y = np.array(vals[7:], float)
    f = np.array(vals[:-7], float)
    b, a = np.polyfit(f, y, 1)
    e = y - (a + b * f)
    dw = ((e[1:] - e[:-1]) ** 2).sum() / (e**2).sum()
    assert abs(r["durbin_watson"] - dw) < 1e-6


# --- continuation-session wave 104: turbulence index -------------------------


def test_turbulence_mean_is_dimension(spark, sf_dir):
    rows = QUERIES["ts_turbulence"](spark, sf_dir).collect()
    vals = [r["turbulence"] for r in rows]
    assert all(v >= 0 for v in vals)
    # mean Mahalanobis^2 over the fitting sample ~ p = 2 (with the
    # (n-1)/n sample-covariance factor)
    mean_t = sum(vals) / len(vals)
    assert 1.6 < mean_t < 2.4


# --- continuation-session wave 105: mean log deviation -----------------------


def test_mld_links_to_atkinson(spark, sf_dir):
    import math

    mld = QUERIES["agg_mean_log_deviation"](spark, sf_dir).collect()[0]
    atk = QUERIES["agg_atkinson"](spark, sf_dir).collect()[0]
    assert mld["mean_log_deviation"] >= 0  # Jensen
    # Atkinson(1) = 1 - exp(-MLD), up to the two keys' quantizations
    implied = 1 - math.exp(-mld["mean_log_deviation"])
    assert abs(implied - atk["atkinson_eps1"]) < 1e-4


# --- continuation-session wave 106: Garman-Klass -----------------------------


def test_garman_klass_near_parkinson(spark, sf_dir):
    gk = QUERIES["ts_garman_klass"](spark, sf_dir).collect()[0]
    pk = QUERIES["ts_parkinson_vol"](spark, sf_dir).collect()[0]
    assert gk["gk_vol_daily"] > 0
    # both estimate the same dispersion scale from the same ranges
    ratio = gk["gk_vol_daily"] / pk["parkinson_vol_daily"]
    assert 0.3 < ratio < 3.0
    import math

    assert abs(
        gk["gk_vol_annualized"] - gk["gk_vol_daily"] * math.sqrt(252)
    ) < 1e-12


# --- continuation-session wave 107: Chao2 ------------------------------------


def test_chao2_at_least_observed(spark, sf_dir):
    r = QUERIES["agg_chao2_richness"](spark, sf_dir).collect()[0]
    assert r["chao2_estimate"] >= r["species_observed"]
    assert r["uniques"] >= 0 and r["duplicates"] >= 0
    assert r["n_sources"] == 20
    # the tiny synthetic vocab is fully observed: estimate ~ observed
    assert r["chao2_estimate"] <= r["species_observed"] * 1.5


# --- continuation-session wave 108: Rogers-Satchell --------------------------


def test_ohlc_vol_trio_coherent(spark, sf_dir):
    rs = QUERIES["ts_rogers_satchell"](spark, sf_dir).collect()[0]
    pk = QUERIES["ts_parkinson_vol"](spark, sf_dir).collect()[0]
    assert rs["rs_vol_daily"] > 0
    assert 0.2 < rs["rs_vol_daily"] / pk["parkinson_vol_daily"] < 5.0


# --- continuation-session wave 109: weighted kappa ---------------------------


def test_weighted_kappa_bounds_and_replay(spark, sf_dir):
    r = QUERIES["agg_weighted_kappa"](spark, sf_dir).collect()[0]
    assert -1 <= r["weighted_kappa"] <= 1
    rows = (
        load(spark, sf_dir, "orders")
        .join(
            load(spark, sf_dir, "lineitem")
            .groupBy("l_orderkey")
            .agg(F.count(F.lit(1)).alias("nl")),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select("o_totalprice", "nl")
        .collect()
    )
    from collections import Counter

    cells = Counter()
    for x in rows:
        a = 0 if x["o_totalprice"] < 100000 else (1 if x["o_totalprice"] < 300000 else 2)
        b = 0 if x["nl"] <= 2 else (1 if x["nl"] <= 4 else 2)
        cells[(a, b)] += 1
    n = sum(cells.values())
    obs = sum(abs(a - b) * c for (a, b), c in cells.items())
    ra = Counter()
    cb = Counter()
    for (a, b), c in cells.items():
        ra[a] += c
        cb[b] += c
    expd = sum(abs(a - b) * ra[a] * cb[b] for a in ra for b in cb)
    assert abs(r["weighted_kappa"] - (1 - n * obs / expd)) < 1e-12


# --- continuation-session wave 110: ordinal association ----------------------


def test_ordinal_association_ordering(spark, sf_dir):
    r = QUERIES["agg_ordinal_association"](spark, sf_dir).collect()[0]
    g, d, t = (
        r["goodman_kruskal_gamma"],
        r["somers_d_yx"],
        r["kendall_tau_b"],
    )
    # |gamma| >= |tau_b| and |gamma| >= |somers| always (gamma drops ties)
    assert abs(g) >= abs(t) - 1e-12
    assert abs(g) >= abs(d) - 1e-12
    # all three share a sign
    assert (g >= 0) == (d >= 0) == (t >= 0)
    assert r["concordant"] > 0 and r["discordant"] > 0


# --- continuation-session wave 111: market model -----------------------------


def test_market_model_matches_numpy(spark, sf_dir):
    import numpy as np

    r = QUERIES["agg_market_model"](spark, sf_dir).collect()[0]
    assert 0 <= r["r2"] <= 1
    daily = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.sum(F.expr("CAST(ROUND(value*100) AS BIGINT)")).alias("c"))
        .collect()
    )
    series = {}
    for t in ("click", "purchase"):
        rows = sorted((x["day"], x["c"]) for x in daily if x["event_type"] == t)
        rets = {}
        for (d0, c0), (d1, c1) in zip(rows, rows[1:]):
            rets[d1] = (c1 - c0) / c0
        series[t] = rets
    days = sorted(set(series["click"]) & set(series["purchase"]))
    x = np.array([series["click"][d] for d in days])
    y = np.array([series["purchase"][d] for d in days])
    b, a = np.polyfit(x, y, 1)
    assert r["n_days"] == len(days)
    assert abs(r["beta"] - b) < 1e-9 * max(1, abs(b))
    assert abs(r["jensen_alpha_daily"] - a) < 1e-9 * max(1, abs(a))
    assert abs(r["r2"] - np.corrcoef(x, y)[0, 1] ** 2) < 1e-9


# --- round-7: census twins + features oracle replay ------------------------


def test_phash_census_recombines_to_ahash(spark, sf_dir):
    """The census's 32-bit halves recombine to the exact signed-int64
    aHash dedup_phash computes on the same payloads."""
    from diversity_maximization_spark.llm.multimodal import (
        ahash64,
        with_media,
    )
    from diversity_maximization_spark.sources import load as _load

    halves = {
        r["doc_id"]: (r["phash_hi"], r["phash_lo"])
        for r in QUERIES["dedup_phash_census"](spark, sf_dir).collect()
    }
    media = (
        with_media(_load(spark, sf_dir, "documents"))
        .filter("media_type = 'image/png'")
        .limit(12)
        .collect()
    )
    assert media
    for r in media:
        hi, lo = halves[r["doc_id"]]
        v = (hi << 32) | lo
        signed = v - (1 << 64) if v >= (1 << 63) else v
        assert signed == ahash64(bytes(r["payload"])), r["doc_id"]


def test_audio_census_sum_sq_exact_replay(spark, sf_dir):
    """sum_sq equals a pure-python replay over the decoded samples,
    and rms re-derives from it by the documented formula."""
    import math

    from diversity_maximization_spark.llm.multimodal import (
        WAV_SAMPLES,
        wav_decode,
        with_media,
    )
    from diversity_maximization_spark.sources import load as _load

    rows = {
        r["doc_id"]: r
        for r in QUERIES["audio_fingerprint_census"](spark, sf_dir).collect()
    }
    media = (
        with_media(_load(spark, sf_dir, "documents"))
        .filter("media_type = 'audio/wav'")
        .limit(12)
        .collect()
    )
    assert media
    for m in media:
        _n, _rate, samples = wav_decode(bytes(m["payload"]))
        ss = sum(s * s for s in samples)
        r = rows[m["doc_id"]]
        assert r["sum_sq"] == ss
        assert r["rms"] == round(math.sqrt(ss / WAV_SAMPLES) / 32768.0, 6)


def test_features_video_mean_is_framewise_mean(spark, sf_dir):
    """multimodal_features' video vectors equal the per-component
    mean (python fold order) of the sampled frames' image features —
    the exact contract its new DuckDB oracle replays."""
    from diversity_maximization_spark.llm.multimodal import (
        _image_features,
        mpng_decode,
        sample_frames,
        with_media,
    )
    from diversity_maximization_spark.sources import load as _load

    feats = {
        r["doc_id"]: [r[f"f{i}"] for i in range(1, 9)]
        for r in QUERIES["multimodal_features"](spark, sf_dir).collect()
    }
    vids = (
        with_media(_load(spark, sf_dir, "documents"))
        .filter("media_type = 'video/mpng'")
        .limit(6)
        .collect()
    )
    assert vids
    for v in vids:
        fs = [
            _image_features(f)
            for _src, f in sample_frames(mpng_decode(bytes(v["payload"])))
        ]
        want = [round(sum(c) / len(fs), 6) for c in zip(*fs)]
        assert feats[v["doc_id"]] == want, v["doc_id"]


def test_resize_census_checksum_matches_thumbs(spark, sf_dir):
    """The census checksum equals the position-weighted sum over the
    ACTUAL thumb bytes multimodal_resize emits."""
    from diversity_maximization_spark.llm.multimodal import png_decode

    cks = {
        r["doc_id"]: r["thumb_checksum"]
        for r in QUERIES["multimodal_resize_census"](spark, sf_dir).collect()
    }
    thumbs = QUERIES["multimodal_resize"](spark, sf_dir).limit(8).collect()
    assert thumbs
    for t in thumbs:
        _w, _h, rgb = png_decode(bytes(t["thumb"]))
        assert cks[t["doc_id"]] == sum(
            (i + 1) * b for i, b in enumerate(rgb)
        ), t["doc_id"]


def test_frame_sample_census_matches_frames(spark, sf_dir):
    """Census rows align 1:1 with multimodal_frame_sample's output:
    same (doc, ordinal, src) triples, checksums over the same decoded
    frame bytes."""
    from diversity_maximization_spark.llm.multimodal import png_decode

    cks = {
        (r["doc_id"], r["frame_idx"]): (r["src_frame"], r["frame_checksum"])
        for r in QUERIES["multimodal_frame_sample_census"](
            spark, sf_dir
        ).collect()
    }
    frames = QUERIES["multimodal_frame_sample"](spark, sf_dir).collect()
    assert frames and len(frames) == len(cks)
    for fr in frames[:12]:
        src, ck = cks[(fr["doc_id"], fr["frame_idx"])]
        assert src == fr["src_frame"]
        _w, _h, rgb = png_decode(bytes(fr["frame"]))
        assert ck == sum((i + 1) * b for i, b in enumerate(rgb))
