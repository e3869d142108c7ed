"""Physical-plan regression tests (SURVEY.md §4.2): the plans the
engine relies on at scale must actually appear — predicate pushdown
and column pruning reaching the parquet scan, broadcast joins for
dimension chains, partial (map-side) aggregation, TakeOrdered for
global top-k, and whole-stage codegen on the relational surface.
A correctness-green query with the wrong plan is a 100 TB bug."""

import pytest

from diversity_maximization_spark.registry import QUERIES
from diversity_maximization_spark.sources import load


def plan_of(spark, key, sf_dir) -> str:
    df = QUERIES[key](spark, sf_dir)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_scan_pruned_pushdown(spark, sf_dir):
    """Filter and projection must reach the parquet scan."""
    plan = plan_of(spark, "scan_pruned", sf_dir)
    assert "PushedFilters: [" in plan
    # pushed filters are non-empty
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip(), plan
    # the scan reads only the queried columns, not the whole row
    read_schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "o_orderkey" not in read_schema or "struct<" in read_schema


def test_column_pruning_narrow_projection(spark, sf_dir):
    """A 2-column projection over lineitem must not scan all 11 cols."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    plan = li._sc._jvm.PythonSQLUtils.explainString(
        li._jdf.queryExecution(), "formatted"
    )
    read_schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "l_extendedprice" not in read_schema
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema


def test_join_broadcast_uses_broadcast_hash_join(spark, sf_dir):
    plan = plan_of(spark, "join_broadcast", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semi_anti_join_types(spark, sf_dir):
    assert "LeftSemi" in plan_of(spark, "join_semi", sf_dir)
    assert "LeftAnti" in plan_of(spark, "join_anti", sf_dir)


def test_agg_partial_final(spark, sf_dir):
    """Two-phase hash aggregation: partial (map-side combine) before
    the exchange, final after — the shuffle moves group states, not
    rows."""
    plan = plan_of(spark, "agg_pricing_summary", sf_dir)
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_topk_global_take_ordered(spark, sf_dir):
    """ORDER BY + LIMIT must plan as TakeOrderedAndProject (per-
    partition heaps + driver merge), never a global sort."""
    plan = plan_of(spark, "topk_global", sf_dir)
    assert "TakeOrderedAndProject" in plan


def test_whole_stage_codegen_on_relational_surface(spark, sf_dir):
    """codegen-mode explain (the AQE pre-execution formatted plan hides
    codegen spans) must find at least one whole-stage subtree."""
    for key in ("agg_pricing_summary", "filter_pred", "win_topk_pergroup"):
        df = QUERIES[key](spark, sf_dir)
        df.collect()  # AQE materializes the final plan only on execution
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        assert "[codegen id :" in plan, (key, plan)  # codegen'd spans


def test_sim_search_no_nested_loop(spark, sf_dir):
    """The two-phase exact plan must not contain the quadratic
    BroadcastNestedLoopJoin the naive theta join produces."""
    plan = plan_of(spark, "sim_search_topk", sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" in plan  # BLAS candidate stage present


def test_lsh_is_shuffle_equi_join(spark, sf_dir):
    """The LSH scale path must be an equi-join (hash-partitioned or
    AQE-converted broadcast at test size), not a nested loop."""
    plan = plan_of(spark, "dedup_embedding_lsh", sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan


def test_bucketed_join_no_shuffle(spark, sf_dir):
    """The bucketed join + same-key groupBy must read pre-bucketed
    tables with NO exchange anywhere in the plan. Auto-broadcast is
    disabled for the check: at fixture scale AQE would broadcast the
    small side (also shuffle-free, but that proves nothing about
    bucketing); forcing sort-merge shows the co-location is real."""
    thresholds = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in thresholds}
    try:
        for k, v in thresholds.items():
            spark.conf.set(k, v)
        df = QUERIES["join_bucketed"](spark, sf_dir)
        df.collect()
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_salted_join_equals_plain(spark, sf_dir):
    """Salted skew join must be semantically identical to the plain
    equi-join, for inner and left."""
    from pyspark.sql import functions as F

    from diversity_maximization_spark.plans.skew import salted_join

    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    for how in ("inner", "left"):
        plain = sorted(map(tuple, o.join(c, "o_custkey", how).collect()))
        salted = sorted(map(tuple, salted_join(o, c, "o_custkey", 4, how).collect()))
        assert plain == salted, how


def test_sink_partition_prune_reads_two_dirs(spark, sf_dir):
    """The partition-column filter must become PartitionFilters on the
    read-back scan (directory-level pruning, not row filtering)."""
    plan = plan_of(spark, "sink_partition_prune", sf_dir)
    pf = plan.split("PartitionFilters: [", 1)
    assert len(pf) == 2, plan
    inside = pf[1].split("]", 1)[0]
    assert "event_type" in inside, plan


def test_no_accidental_cartesian_or_nested_loop(spark, sf_dir):
    """Scale guard: no relational query may compile to
    CartesianProduct or BroadcastNestedLoopJoin unless it is an
    INTENTIONAL pairwise/cross operator. Catching a missing equi
    condition here is cheaper than at 100 TB.

    The allowlist is NOT hand-maintained here: it is derived from the
    ``bounded_cross=`` declarations made at each @query registration
    site (registry.BOUNDED_CROSS), so a new scalar cross must state
    its domain bound where it is written or this sweep goes red."""
    from diversity_maximization_spark.registry import BOUNDED_CROSS, ORACLES

    intentional = set(BOUNDED_CROSS)
    families = ("tpch_", "join_", "agg_", "win_", "setop_", "sort_",
                "topk_", "merge_", "ts_", "sql_", "fn_", "filter_",
                "proj_")
    flagged = []
    for key in ORACLES:
        if key in intentional or not key.startswith(families):
            continue
        plan = plan_of(spark, key, sf_dir)
        for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
            if bad in plan:
                flagged.append((key, bad))
    assert flagged == [], f"unintended pair-blowup joins: {flagged}"


def test_bounded_cross_declarations_are_wellformed():
    """Every bounded_cross declaration names a registered key and
    states a non-trivial bound (the lint's allowlist is only as good
    as the reasons written at the registration sites)."""
    from diversity_maximization_spark.registry import BOUNDED_CROSS, QUERIES

    for key, reason in BOUNDED_CROSS.items():
        assert key in QUERIES, f"bounded_cross on unregistered key {key}"
        assert len(reason.strip()) >= 10, f"vacuous bounded_cross reason on {key}"


def test_clustered_layout_pushes_range_filter(spark, sf_dir):
    """The clustered read-back's date-range predicate must reach the
    parquet scan as PushedFilters — that is what lets row-group
    min/max stats skip files outside the slice in the range-sorted
    layout."""
    plan = plan_of(spark, "sink_clustered_layout", sf_dir)
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_shipdate" in pushed, plan


def test_ntile_has_no_global_window(spark, sf_dir, monkeypatch):
    """The scale-safe NTILE plan must contain NO Window node at all
    (the global quartiles come from the distributed row-number map).
    Asserted at the KEY level with checkpointing forced off via
    SPARK_GRAFT_GR_CHECKPOINT=0 (r10 ADVICE: with the lazy
    localCheckpoints on, the machinery sits below a Scan ExistingRDD
    boundary and the assertion was near-vacuous), so the whole
    per-key pipeline — pre-processing included — is visible to the
    Window/MapInPandas checks."""
    monkeypatch.setenv("SPARK_GRAFT_GR_CHECKPOINT", "0")
    for key in ("win_ntile_pctrank", "feat_bucketize"):
        plan = plan_of(spark, key, sf_dir)
        assert "Window" not in plan, key
        assert "MapInPandas" in plan, key
        assert "ExistingRDD" not in plan, key  # truncation really off


def test_global_rank_pipeline_shape(spark, sf_dir):
    """The global-row-number machinery itself (checkpoint=False so
    one explain shows the whole pipeline): Arrow numbering stage
    present, NO Window node, and exactly ONE Exchange (the bucket
    repartition) above the scan."""
    import re

    from pyspark.sql import functions as F

    from diversity_maximization_spark.plans.global_rank import (
        with_global_row_number,
    )

    o = load(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("v"), "o_orderkey"
    )
    numbered, n = with_global_row_number(
        o, ["v", "o_orderkey"], out_col="rn", checkpoint=False
    )
    plan = numbered._sc._jvm.PythonSQLUtils.explainString(
        numbered._jdf.queryExecution(), "formatted"
    )
    assert "MapInPandas" in plan
    assert "Window" not in plan
    # exactly ONE Exchange — the bucket repartition (r10 ADVICE: the
    # docstring claimed this but nothing counted the nodes). Count the
    # operator-detail headers "(n) Exchange" so each node is counted
    # once regardless of how often the tree section mentions it.
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert n > 0


def test_vocab_coverage_broadcasts_vocab(spark, sf_dir):
    """The top-k vocabulary must arrive via TakeOrdered (no global
    sort) and join broadcast (map-side), never a SortMergeJoin."""
    plan = plan_of(spark, "vocab_coverage", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dedup_incremental_joins_digests_only(spark, sf_dir):
    """The dedup join must carry md5 digests, never document text:
    text appears only below the hash projection, and the join is a
    plain equi hash join."""
    plan = plan_of(spark, "dedup_incremental", sf_dir)
    join_part = plan.split("Join")[1]
    assert "text" not in join_part.split("\n\n")[0]
    assert "BroadcastNestedLoopJoin" not in plan


def test_heavy_hitters_candidates_broadcast(spark, sf_dir):
    """The exact second pass must semi-join against BROADCAST
    candidates (map-side filter before the shuffle)."""
    plan = plan_of(spark, "sketch_heavy_hitters", sf_dir)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_global_row_number_matches_local_sort(spark, sf_dir):
    """with_global_row_number must equal the locally-sorted rank for
    (a) the orders fixture and (b) a synthetic frame whose leading key
    is heavily duplicated (every boundary lands mid-duplicate-run —
    the case where a buggy bucket function would misorder)."""
    from diversity_maximization_spark.plans.global_rank import (
        with_global_row_number,
    )

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    numbered, n = with_global_row_number(
        o, ["o_totalprice", "o_orderkey"], out_col="rn"
    )
    got = {r["o_orderkey"]: r["rn"] for r in numbered.collect()}
    rows = sorted(o.collect(), key=lambda r: (r["o_totalprice"], r["o_orderkey"]))
    assert n == len(rows)
    for i, r in enumerate(rows, start=1):
        assert got[r["o_orderkey"]] == i

    skew = spark.range(0, 5000).selectExpr(
        "id", "CAST(id % 7 AS DOUBLE) AS k"  # 7 distinct leading values
    )
    numbered2, n2 = with_global_row_number(skew, ["k", "id"], out_col="rn")
    got2 = {r["id"]: r["rn"] for r in numbered2.collect()}
    rows2 = sorted(skew.collect(), key=lambda r: (r["k"], r["id"]))
    assert n2 == 5000
    assert all(got2[r["id"]] == i for i, r in enumerate(rows2, start=1))


def test_zorder_layout_confines_rectangle_to_few_files(spark, sf_dir):
    """Z-order clustering effectiveness: rows matching the
    two-predicate rectangle must live in a strict minority of the
    files (both filter columns benefit from one layout), and the
    read-back filter must reach the scan as pushed filters."""
    from pyspark.sql import functions as F

    from diversity_maximization_spark.operators.scans import (
        write_zorder_layout,
    )

    d = write_zorder_layout(spark, sf_dir)
    full = spark.read.parquet(d)
    total = full.select(F.input_file_name().alias("f")).distinct().count()
    touched = (
        full.filter(
            F.col("ck").between(100, 160)
            & (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1996-07-01")
        )
        .select(F.input_file_name().alias("f"))
        .distinct()
        .count()
    )
    assert touched <= max(1, total // 2), (touched, total)

    plan = plan_of(spark, "sink_zorder_layout", sf_dir)
    assert "PushedFilters: [" in plan


def test_profile_columns_single_scan_with_expand(spark, sf_dir):
    """The profiler's whole point is ONE scan feeding every
    per-column aggregate (multi-distinct via Expand) — not one scan
    per column like the oracle's UNION ALL."""
    plan = plan_of(spark, "profile_columns", sf_dir)
    # formatted explain prints each scan node twice (tree + details);
    # the details block has exactly one Location: line per real scan
    assert plan.count("Location:") == 1, plan
    assert "Expand" in plan


def test_dedup_passage_shuffles_fingerprints_not_strings(spark, sf_dir):
    """Passages must shuffle as xxhash64 fingerprints; the raw
    passage strings never leave the scan stage."""
    plan = plan_of(spark, "dedup_passage", sf_dir)
    assert "xxhash64" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_triangle_count_wedge_join_is_equi(spark, sf_dir):
    """The wedge enumeration and closure must be equi-joins (hash or
    sort-merge) — the only nested-loop joins allowed are the final
    1-row scalar crosses."""
    plan = plan_of(spark, "graph_triangle_count", sf_dir)
    assert "LeftSemi" in plan  # wedge closure is a semi join
    assert "CartesianProduct" not in plan


def test_spatial_grid_is_equi_join_on_cells(spark, sf_dir):
    """The radius join must compile to an equi-join on the cell key
    (hash-partitioned), never a nested-loop theta join."""
    plan = plan_of(spark, "join_spatial_grid", sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_rollup_hierarchy_single_scan_expand(spark, sf_dir):
    """Three time granularities from ONE scan: a single Expand node,
    a single parquet scan — never one pass per level."""
    plan = plan_of(spark, "ts_rollup_hierarchy", sf_dir)
    assert plan.count("Location:") == 1, plan
    assert "Expand" in plan


def test_rolling_corr_single_exchange(spark, sf_dir):
    """All six window aggregates of win_rolling_corr must share ONE
    Exchange (same partition + order), not one per aggregate."""
    plan = plan_of(spark, "win_rolling_corr", sf_dir)
    tree = plan.split("\n\n(1)")[0]
    assert tree.count("Exchange") == 1, tree
    assert "Window" in tree


def _tree(plan: str) -> str:
    """The plan tree section only (node list before the per-node
    details, where each operator name appears exactly once)."""
    return plan.split("\n\n(1)")[0]


def test_bloom_reduced_is_semi_probe_chain(spark, sf_dir):
    """join_bloom_reduced's reduction must compile to three broadcast
    LeftSemi probes on the bit-position table (never a nested loop),
    with the dimension filter pushed into the orders scan."""
    plan = plan_of(spark, "join_bloom_reduced", sf_dir)
    tree = _tree(plan)
    assert tree.count("BroadcastHashJoin LeftSemi") == 3, tree
    assert "BroadcastNestedLoopJoin" not in plan
    assert "PushedFilters: [" in plan
    assert "o_totalprice" in plan.split("PushedFilters: [", 1)[1]


def test_interval_overlap_is_equi_on_bucket(spark, sf_dir):
    """The binned interval-overlap join must meet on the bucket equi
    key — a hash join, not the CartesianProduct the naive interval
    theta join would plan."""
    plan = plan_of(spark, "join_interval_overlap", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_nearest_single_exchange(spark, sf_dir):
    """Both framed passes of the nearest-asof rewrite must share ONE
    shuffle on user_id — stacking the backward and forward windows
    may not introduce a second Exchange over the union."""
    tree = _tree(plan_of(spark, "join_asof_nearest", sf_dir))
    # exchanges: the view pre-dedup agg + ONE union-window shuffle;
    # all six framed expressions stack over a single Sort (no
    # per-window re-shuffle)
    assert tree.count("Exchange") == 2, tree
    assert tree.count("Sort") == 1, tree


def test_hampel_single_window_exchange(spark, sf_dir):
    """The Hampel filter's median and MAD come from the SAME sorted
    frame: one Window node (two exchanges total: the daily rollup on
    (type, day), then the window repartition on type)."""
    tree = _tree(plan_of(spark, "win_hampel_filter", sf_dir))
    assert tree.count("Window") == 1, tree
    assert tree.count("Exchange") == 2, tree


def test_cache_reuse_hits_inmemory_scan(spark, sf_dir):
    """Both consumers of plan_cache_reuse's cached enrichment must
    read the InMemoryTableScan, not re-run the join."""
    from pyspark.sql import functions as F

    from diversity_maximization_spark.sources import load

    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    enriched = (
        o.join(c, o.o_custkey == c.c_custkey)
        .select("o_custkey", "c_mktsegment", "o_totalprice")
        .cache()
    )
    try:
        enriched.count()  # materialize
        for consumer in (
            enriched.groupBy("c_mktsegment").count(),
            enriched.select(F.countDistinct("o_custkey")),
        ):
            plan = consumer._sc._jvm.PythonSQLUtils.explainString(
                consumer._jdf.queryExecution(), "formatted"
            )
            assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan, plan
            assert "SortMergeJoin" not in plan, plan
    finally:
        enriched.unpersist()


def test_survival_km_no_single_partition_window(spark, sf_dir):
    """Both order-by-dur prefix passes of the KM curve must run as
    bucket-PARTITIONED windows over the two-phase prefix machinery —
    an unpartitioned Window.orderBy would funnel the whole risk
    table through one task at scale. The executed plan must contain
    no SinglePartition exchange and every Window must carry a
    partition spec."""
    import re

    plan = plan_of(spark, "survival_km", sf_dir)
    assert "SinglePartition" not in plan, plan
    assert "Window" in plan  # the partitioned passes are really there
    for m in re.finditer(r"Arguments: .*partitionBy=\[\]", plan):
        raise AssertionError(f"unpartitioned window: {m.group(0)[:120]}")


def test_zipf_fit_rank_filter_becomes_take_ordered(spark, sf_dir):
    """quality_zipf_fit's scale-safety rests on Catalyst rewriting
    the rank<=100 window filter to TakeOrderedAndProject BELOW the
    window (InferWindowGroupLimit + limit pushdown), so only 100
    rows ever reach the global-order stage. Pin the rewrite so a
    future refactor that silently reintroduces the full-vocabulary
    global sort is caught."""
    plan = plan_of(spark, "quality_zipf_fit", sf_dir)
    assert (
        "TakeOrderedAndProject" in plan or "WindowGroupLimit" in plan
    ), plan


def test_kmv_sketch_bounded_by_window_group_limit(spark, sf_dir):
    """sketch_kmv_distinct's K-bound claim is structural: the
    row_number<=K filter must trigger the rank-limit pushdown, whose
    Partial WindowGroupLimit before the exchange caps per-partition
    state at K rows per group (SPARK-37099)."""
    plan = plan_of(spark, "sketch_kmv_distinct", sf_dir)
    assert "WindowGroupLimit" in plan, plan


def test_unpartitioned_windows_carry_bound_notes():
    """Window-audit lint (PLANS.md "Unpartitioned-window audit"):
    every direct ``Window.orderBy(...)`` — the unpartitioned form
    that funnels all rows into one task — in non-test package source
    must carry a ``# bounded:`` note within the three preceding
    lines stating the domain bound that makes it safe. A new
    unpartitioned ranking window without a bound note fails here."""
    import pathlib
    import re

    pkg = pathlib.Path("diversity_maximization_spark")
    pat = re.compile(r"\b(Window|W|W0)\.orderBy\(")
    offenders = []
    for py in sorted(pkg.rglob("*.py")):
        lines = py.read_text().splitlines()
        for i, line in enumerate(lines):
            if not pat.search(line):
                continue
            if "``" in line or line.lstrip().startswith("#"):
                continue  # prose/docstring mention, not code
            window = "\n".join(lines[max(0, i - 3) : i + 1])
            if "bounded" not in window:
                offenders.append(f"{py}:{i + 1}: {line.strip()[:80]}")
    assert not offenders, (
        "unpartitioned Window.orderBy without a '# bounded:' note "
        "(add the domain bound or partition the window):\n"
        + "\n".join(offenders)
    )


def test_knn_radius_is_equi_join_on_cells(spark, sf_dir):
    """join_knn_radius's candidate generation must be the grid-cell
    EQUI join (3x3 constant replication), never a cross/theta product
    over points, and the per-point top-k must trigger the rank-limit
    pushdown (WindowGroupLimit) so state is k-bounded."""
    plan = plan_of(spark, "join_knn_radius", sf_dir)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "WindowGroupLimit" in plan, plan


def test_knn_classify_eval_is_dispatch_gated(spark, sf_dir):
    """knn_classify_eval's pair generation must go through the
    distance-join size dispatch — above THETA_MAX_ROWS the plan is
    the broadcast-BLAS candidate stage (MapInPandas) feeding equi
    joins, never an ungated n^2 theta join; the per-point top-5
    keeps the rank-limit pushdown (WindowGroupLimit)."""
    plan = plan_of(spark, "knn_classify_eval", sf_dir)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "MapInPandas" in plan, plan
    assert "WindowGroupLimit" in plan, plan


def test_minhash_certified_banded_join_is_equi(spark, sf_dir):
    """dedup_minhash_certified's candidate stage must be the banded
    equi-join — all-pairs comparison lives only in the ORACLE."""
    plan = plan_of(spark, "dedup_minhash_certified", sf_dir)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_trimmed_mean_window_is_partitioned(spark, sf_dir):
    """agg_trimmed_mean's rank window must hash-partition by cohort —
    a SinglePartition window over orders would bottleneck at scale."""
    plan = plan_of(spark, "agg_trimmed_mean", sf_dir)
    assert "SinglePartition" not in plan, plan


def test_t_closeness_broadcasts_segment_table(spark, sf_dir):
    """privacy_t_closeness crosses the class table with the 5-row
    global segment distribution — that side must broadcast, never
    shuffle the fact-derived classes against it with a sort-merge."""
    plan = plan_of(spark, "privacy_t_closeness", sf_dir)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_containment_join_is_equi_on_shingle(spark, sf_dir):
    """dedup_containment's pair generation must be the inverted-index
    equi-join on the shingle key (posting-list work), not a cartesian
    comparison of documents."""
    plan = plan_of(spark, "dedup_containment", sf_dir)
    assert "CartesianProduct" not in plan
    assert "shingle" in plan


def test_pagerank_exact_joins_stay_equi(spark, sf_dir):
    """text_pagerank_exact's per-iteration contribution join must be
    an equi-join on the word key; integer fixed-point math must not
    force a cartesian or nested-loop shape."""
    plan = plan_of(spark, "text_pagerank_exact", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_assoc_rules_broadcasts_dims_and_copartitions_self_join(spark, sf_dir):
    """The part dim must join broadcast; the basket self-join is an
    equi-join on the orderkey both sides were just shuffled on, and
    the rule-stat joins are broadcast (brand-bounded tables). Any
    SortMergeJoin on the pair blow-up would be the 100 TB bug."""
    plan = plan_of(spark, "assoc_rules_lift", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rfm_has_no_single_partition_window(spark, sf_dir):
    """All three RFM quintiles must come from the two-phase global
    row-number machinery — a global NTILE window would funnel every
    user through one task."""
    import re

    plan = plan_of(spark, "agg_rfm_segmentation", sf_dir)
    assert "SinglePartition" not in plan, plan
    for m in re.finditer(r"Arguments: .*partitionBy=\[\]", plan):
        raise AssertionError(f"unpartitioned window: {m.group(0)[:120]}")


def test_path_prefixes_topk_is_take_ordered(spark, sf_dir):
    """The top-20 paths must compile to TakeOrderedAndProject, never
    a global Sort over the path table."""
    plan = plan_of(spark, "path_common_prefixes", sf_dir)
    assert "TakeOrderedAndProject" in plan


def test_feat_impute_broadcasts_medians(spark, sf_dir):
    """The per-segment median table (bounded by |segments|) must join
    back broadcast; the median window is segment-partitioned."""
    plan = plan_of(spark, "feat_impute", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SinglePartition" not in plan


def test_ndcg_eval_query_side_is_broadcast(spark, sf_dir):
    """The 20-query side must broadcast against the corpus — the eval
    is O(20 n), and a shuffle join on the pair condition would
    materialize it as a SortMergeJoin instead."""
    plan = plan_of(spark, "sim_search_recall_ndcg", sf_dir)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_rank_fusion_topk_is_take_ordered(spark, sf_dir):
    """quality_rank_fusion's top-50 cut must compile to
    TakeOrderedAndProject (never a global Sort), and the three
    signal rankings must run through the two-phase machinery — no
    SinglePartition window over the document table."""
    plan = plan_of(spark, "quality_rank_fusion", sf_dir)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan


def test_burstiness_topk_is_take_ordered(spark, sf_dir):
    """text_word_burstiness's top-25 must be TakeOrderedAndProject."""
    plan = plan_of(spark, "text_word_burstiness", sf_dir)
    assert "TakeOrderedAndProject" in plan, plan


def test_rake_windows_are_doc_partitioned(spark, sf_dir):
    """text_rake_words uses two windows (islands + phrase length) —
    both MUST be partitioned (by doc) so no SinglePartition window
    exists in the executed plan."""
    plan = plan_of(spark, "text_rake_words", sf_dir)
    assert "SinglePartition" not in plan, plan


def test_pps_prefix_sum_never_single_partition(spark, sf_dir):
    """sample_pps_systematic's cumulative weights ride the
    bucket-partitioned window, never a global one."""
    plan = plan_of(spark, "sample_pps_systematic", sf_dir)
    assert "SinglePartition" not in plan, plan


def test_clustering_coeff_joins_are_equi(spark, sf_dir):
    """graph_clustering_coeff's wedge and closing joins must stay
    equi-joins (SortMergeJoin/ShuffledHashJoin/Broadcast-hash) — a
    CartesianProduct here is the O(V^2) bug the degree orientation
    exists to prevent."""
    plan = plan_of(spark, "graph_clustering_coeff", sf_dir)
    assert "CartesianProduct" not in plan, plan


def test_longest_streak_window_is_user_partitioned(spark, sf_dir):
    """win_longest_streak's island window partitions by user."""
    plan = plan_of(spark, "win_longest_streak", sf_dir)
    assert "SinglePartition" not in plan, plan


# --- iterate_with_barrier: the r6 stats-squaring regression pin -----------


def _size_stat_bits(df) -> int:
    """Bit length of Catalyst's propagated sizeInBytes for df's
    optimized plan — the quantity that SQUARED per round in the
    round-6 pointer-doubling hang (multi-megabit BigIntegers by
    round ~14; 18 min of driver-side Toom-Cook at rounds=16)."""
    v = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    # py4j auto-converts small BigIntegers to python int; huge ones
    # stay JavaObject with bitLength()
    return int(v).bit_length() if isinstance(v, int) else v.bitLength()


def test_iterate_with_barrier_bounds_stat_squaring(spark):
    """A state-vs-state join loop driven by iterate_with_barrier must
    keep the plan's sizeInBytes stat BOUNDED across rounds. Without
    the periodic parquet stats barrier the stat squares per round
    (localCheckpoint alone propagates it via rewriteStats, and the
    join-stats visitor multiplies the children): 12 rounds would put
    it well past 2^1000. With the barrier (every=4) growth between
    resets is <= 2^4 x file size — assert a generous static bound."""
    from pyspark.sql import functions as F

    from diversity_maximization_spark.plans.iterate import (
        iterate_with_barrier,
    )

    n = 64
    base = spark.range(n).select(
        F.col("id").alias("u"),
        ((F.col("id") * 7 + 3) % n).alias("p"),
    )

    def double_ptr(ptr, r):
        hop = ptr.select(F.col("u").alias("hu"), F.col("p").alias("hp"))
        return ptr.join(hop, ptr["p"] == hop["hu"]).select(
            "u", F.col("hp").alias("p")
        )

    out = iterate_with_barrier(
        base.localCheckpoint(eager=True), double_ptr, 12, every=4
    )
    bits = _size_stat_bits(out)
    assert bits < 64, f"sizeInBytes stat is {bits} bits — squaring is back"
    # and the loop itself is still correct: p = succ^(2^12)(u) is a
    # fixed point of the permutation's cycle structure - every p is a
    # valid vertex and the frame kept exactly n rows
    assert out.count() == n


def test_iterate_with_barrier_converged_stops_early(spark):
    """converged() must stop the loop after the barrier of the round
    that satisfied it (the dedup_components contract: one cheap agg
    per round, stop when no label changes)."""
    from pyspark.sql import functions as F

    from diversity_maximization_spark.plans.iterate import (
        iterate_with_barrier,
    )

    calls = []

    def step(df, r):
        calls.append(r)
        return df.select((F.col("x") + 1).alias("x"))

    out = iterate_with_barrier(
        spark.range(1).select(F.lit(0).alias("x")),
        step,
        10,
        squaring=False,
        converged=lambda st, r: st.agg(F.max("x")).first()[0] >= 3,
    )
    assert calls == [0, 1, 2]
    assert out.first()["x"] == 3
