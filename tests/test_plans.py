"""Plan-shape regression tests: the scale guarantees each operator's
docstring claims (pushdown, pruning, broadcast, shuffle counts) are
asserted against the actual physical plans, at the smallest fixture.
"""

from pyspark.sql import functions as F

from masd_spark.plans.explain import (
    count_broadcast_joins,
    count_exchanges,
    has_pushed_filter,
    has_take_ordered,
    physical_plan,
    scan_read_schema,
)
from masd_spark.queries import load_all
from tests.conftest import SF_SMOKE

REGISTRY = load_all()


def _q(spark, name):
    return REGISTRY[name].fn(spark, SF_SMOKE)


def test_q1_pushdown_and_pruning(spark):
    df = _q(spark, "q1_pricing_summary")
    # shipdate filter reaches the parquet scan
    assert has_pushed_filter(df, "l_shipdate")
    # column pruning: the scan reads only the 7 needed columns, not all 11
    schemas = scan_read_schema(df)
    assert schemas and all(len(cols) <= 7 for cols in schemas), schemas


def test_q5_broadcasts_dimensions(spark):
    df = _q(spark, "q5_nation_revenue")
    # customer/supplier/nation/region joins all broadcast
    assert count_broadcast_joins(df) >= 4
    # the only shuffle exchanges feed lineitem|x|orders + final agg
    assert count_exchanges(df) <= 3, physical_plan(df)


def test_orderby_limit_is_take_ordered(spark):
    assert has_take_ordered(_q(spark, "orderby_limit_top_orders"))


def test_q3_broadcasts_customer(spark):
    df = _q(spark, "q3_shipping_priority")
    assert count_broadcast_joins(df) >= 1
    assert has_pushed_filter(df, "l_shipdate") or has_pushed_filter(df, "o_orderdate")


def test_asof_join_single_shuffle(spark):
    """The as-of join itself is ONE shuffle (union + window); the scan
    side adds none (same source read twice, map-side filters)."""
    from masd_spark.operators.relational import asof_join
    from masd_spark.sources.tables import load_table, with_event_time

    ev = with_event_time(load_table(spark, SF_SMOKE, "events"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "event_time"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_time", "value"
    )
    out = asof_join(clicks, purchases, "user_id", "event_time", "event_time", ["value"])
    assert count_exchanges(out) == 1, physical_plan(out)


def test_masd_rollup_partial_aggregation(spark):
    """The windowed rollup is partial+final hash agg — exactly one shuffle
    between them, keyed by the group columns."""
    df = _q(spark, "masd_sensor_rollup")
    plan = physical_plan(df)
    assert plan.count("HashAggregate") >= 2
    assert count_exchanges(df) == 1, plan


def test_range_join_is_equi_not_nested_loop(spark):
    """The interval predicate must run as bin-and-probe equi join, never
    a nested-loop theta join."""
    df = _q(spark, "range_join_clicks_purchases")
    plan = physical_plan(df)
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan


def test_exists_subqueries_decorrelate_to_joins(spark):
    """EXISTS/NOT EXISTS must decorrelate into semi/anti joins — no
    per-row subquery re-execution."""
    df = _q(spark, "subquery_exists_filter")
    plan = physical_plan(df)
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan


def test_simhash_pairs_no_nested_loop(spark):
    """Pigeonhole banding must plan as equi joins on (band, val)."""
    df = _q(spark, "dedup_simhash")
    plan = physical_plan(df)
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan


def test_decontaminate_broadcasts_benchmark(spark):
    """The benchmark shingle set is small by construction and must reach
    the corpus side as a broadcast, not a shuffle."""
    df = _q(spark, "pipeline_decontaminate")
    assert count_broadcast_joins(df) >= 1, physical_plan(df)


def test_sliding_rollup_partial_aggregation(spark):
    """Sliding windows keep the partial+final agg shape — the window
    explosion happens map-side before the single shuffle."""
    df = _q(spark, "masd_sliding_rollup")
    plan = physical_plan(df)
    assert plan.count("HashAggregate") >= 2
    assert count_exchanges(df) == 1, plan


def test_events_scan_prunes_columns(spark):
    """json_extract reads only (event_id, props) from the 6-column table."""
    df = _q(spark, "json_extract_events")
    schemas = scan_read_schema(df)
    assert schemas and all(len(cols) == 2 for cols in schemas), schemas


def test_bm25_broadcasts_query_side(spark):
    """Query terms, df counts, and corpus stats all attach via broadcast;
    the only fact-sized shuffles are the tf groupBy and final ranking."""
    df = _q(spark, "text_bm25_search")
    assert count_broadcast_joins(df) >= 3, physical_plan(df)


def test_basket_affinity_broadcasts_margins(spark):
    df = _q(spark, "basket_brand_affinity")
    # part dim + two margin attaches + scalar total
    assert count_broadcast_joins(df) >= 4, physical_plan(df)


def test_prefix_filter_no_nested_loop(spark):
    df = _q(spark, "dedup_prefix_filter_jaccard")
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_merge_upsert_single_shuffle_over_union(spark):
    """The merge itself is one hash exchange on the key: base build,
    union, and winning-row window share the custkey partitioning."""
    df = _q(spark, "merge_upsert_latest_order")
    assert count_exchanges(df) <= 2, physical_plan(df)


def test_triangle_counts_equi_joins_only(spark):
    df = _q(spark, "graph_triangle_counts")
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_triangle_counts_deg_equi_joins_only(spark):
    """Degree orientation adds a degree agg + two id joins but must stay
    all-equi-join — no nested loop anywhere in the wedge/closure path."""
    df = _q(spark, "graph_triangle_counts_deg")
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_capped_jaccard_headline_no_nested_loop(spark):
    """The headline (max_df-capped) jaccard plan: candidate generation and
    verification are shingle/doc-keyed equi-joins only."""
    df = _q(spark, "dedup_ngram_jaccard")
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_containment_no_nested_loop(spark):
    """Containment shares _pair_counts with jaccard — same equi-join-only
    guarantee for the asymmetric screen."""
    df = _q(spark, "dedup_containment_pairs")
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_refined_keeps_probe_plan_shape(spark):
    """Refined centroids only change plan LITERALS: the candidate join
    stays cell-equi with broadcast probes — no nested loop, same number
    of broadcast joins as the seeded index."""
    from masd_spark.operators.clustering import kmeans_centroids
    from masd_spark.operators.similarity import ivf_topk
    from masd_spark.queries.similarity import (
        EMBEDDING_DIM,
        _IVF_CENTROIDS,
        _IVF_PROBE,
        _IVF_SEED,
        _queries_df,
    )
    from masd_spark.sources.tables import load_table

    seeded = _q(spark, "ann_ivf_topk")
    # the registered query is now the error-bound CONTRACT (its result is
    # a 3-row metric set); the probe plan under test is the operator
    # composition the contract certifies
    emb = load_table(spark, SF_SMOKE, "embeddings")
    refined = ivf_topk(
        emb, _queries_df(emb), k=10,
        n_centroids=_IVF_CENTROIDS, n_probe=_IVF_PROBE, seed=_IVF_SEED,
        centroids=kmeans_centroids(
            emb, dim=EMBEDDING_DIM, k=_IVF_CENTROIDS, n_iter=3, seed=_IVF_SEED
        ),
    )
    for df in (seeded, refined):
        plan = physical_plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
    assert count_broadcast_joins(refined) == count_broadcast_joins(seeded)


def test_winsorize_broadcasts_thresholds(spark):
    """The per-type percentile frame attaches by broadcast; the fact
    table is never hash-shuffled for the clip."""
    df = _q(spark, "clean_winsorize_values")
    assert count_broadcast_joins(df) >= 1, physical_plan(df)


def test_debounce_single_exchange(spark):
    """One user-keyed exchange feeds the lag window and the filter."""
    df = _q(spark, "clean_event_debounce")
    assert count_exchanges(df) <= 1, physical_plan(df)


def test_cusum_reuses_type_partitioning(spark):
    """Daily agg, stats join-back (broadcast), and the running-sum window
    share the event_type partitioning: at most two exchanges total
    (daily agg + window sort), stats attach broadcast."""
    df = _q(spark, "ts_cusum_changepoints")
    assert count_broadcast_joins(df) >= 1, physical_plan(df)
    assert count_exchanges(df) <= 3, physical_plan(df)


def test_transitions_margin_broadcast(spark):
    df = _q(spark, "seq_event_transitions")
    assert count_broadcast_joins(df) >= 1, physical_plan(df)


def test_bfs_no_nested_loop(spark):
    df = _q(spark, "graph_bfs_distances")
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ratio_to_parent_windows_after_agg(spark):
    """The window runs over the aggregated 25-row frame — the fact scan
    feeds a partial aggregate, not a window sort."""
    df = _q(spark, "bi_ratio_to_parent")
    plan = physical_plan(df)
    agg_pos = plan.find("HashAggregate")
    win_pos = plan.find("Window")
    assert agg_pos != -1 and win_pos != -1
    # physical plans print top-down: the Window must sit ABOVE the agg
    assert win_pos < agg_pos, plan


def test_string_index_no_fact_shuffle(spark):
    df = _q(spark, "ml_string_index_encode")
    assert count_broadcast_joins(df) >= 2, physical_plan(df)


def test_full_outer_aggregates_before_join(spark):
    """The period reconciliation must full-outer-join two AGGREGATES, not
    fact tables: both join inputs carry a HashAggregate below the
    SortMergeJoin FullOuter, and nothing nested-loops."""
    df = _q(spark, "join_full_outer_period_reconcile")
    plan = physical_plan(df)
    assert "FullOuter" in plan, plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    # two pre-join aggregates (one per period) + one pre-agg on each side
    assert plan.count("HashAggregate") >= 4, plan


def test_tfidf_cosine_term_join_shape(spark):
    """TF-IDF cosine pairs: the pair scores come from a TERM-keyed equi
    join (never doc x doc). The only nested-loop joins allowed are the
    1-row n_docs scalar attachments (IdentityBroadcastMode cross joins —
    the repo's documented-legitimate pattern); the weight vectors meet
    in an equi join on term with the doc_a < doc_b dedup condition."""
    df = _q(spark, "dedup_tfidf_cosine")
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan, plan
    # every nested-loop is a broadcast of the single-row corpus count
    assert plan.count("BroadcastNestedLoopJoin") == plan.count(
        "IdentityBroadcastMode"
    ), plan
    assert "[term#" in plan and "doc_a#" in plan, plan


def test_negative_pairs_single_bucket_shuffle(spark):
    """Negative sampling: rank+count share one bucket-keyed window sort;
    the partner lookup is a (bucket, rank) equi join — no nested loop,
    no global (single-partition) sort."""
    df = _q(spark, "pipeline_negative_pairs")
    plan = physical_plan(df)
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan
    # hashpartitioning on the bucket id, never a rangepartitioning global sort
    assert "rangepartitioning" not in plan.lower(), plan


def test_interpolation_single_window_partitioning(spark):
    """Linear interpolation: the prev/next anchor windows share the same
    (key, bucket) sort — the plan may sort twice (asc frames on one
    ordering) but must shuffle the grid join output only once for BOTH
    window passes."""
    df = _q(spark, "ts_interpolate_linear_hourly")
    plan = physical_plan(df)
    # exchanges: observed agg, span agg reuse, grid join, window — the
    # window passes add NO exchange beyond the join's partitioning
    n_window_exchanges = plan.lower().count("hashpartitioning(event_type#")
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan
    assert count_exchanges(df) <= 5, plan


def test_mg_heavy_keys_plan_shape(spark):
    """Pass 1 is map-side Arrow (MapInPandas, no exchange feeding it
    beyond the scan); pass 2 recounts via a BROADCAST left-semi of the
    tiny candidate set — the big table never sort-merge-joins."""
    df = _q(spark, "sketch_mg_heavy_users")
    plan = physical_plan(df)
    assert "MapInPandas" in plan, plan
    assert "SortMergeJoin" not in plan and "Cartesian" not in plan, plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan


def test_incremental_minhash_no_nested_loop(spark):
    """Candidate generation is an equi-join on (band, band_hash); the
    verify stage equi-joins shingles — nothing degenerates into a
    nested-loop/cartesian pair enumeration."""
    df = _q(spark, "dedup_incremental_minhash")
    plan = physical_plan(df)
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan


def test_autocorrelation_single_fact_scan(spark):
    """The events table is scanned ONCE: the hourly aggregate is
    materialized (localCheckpoint) so both lag self-join sides read the
    same blocks instead of re-scanning + re-aggregating the fact table."""
    df = _q(spark, "ts_autocorrelation")
    plan = physical_plan(df)
    assert "FileScan parquet" not in plan, plan  # only checkpoint scans
    assert plan.count("Scan ExistingRDD") <= 2, plan


def test_linear_score_no_joins(spark):
    """Model scoring is joinless: weights fold into the projection, the
    only exchanges are the (doc, bucket) partial agg and the per-doc
    agg reusing the doc partitioning."""
    df = _q(spark, "ml_linear_score_docs")
    plan = physical_plan(df)
    assert "Join" not in plan, plan
    assert count_exchanges(df) <= 2, plan


def test_mmr_groups_by_query_only(spark):
    """The greedy runs under one FlatMapGroupsInPandas keyed by query_id;
    candidate pair-building stays equi-join/broadcast (the only
    nested-loop is the broadcast of the tiny query set, the same shape
    ann_cosine_topk pins)."""
    df = _q(spark, "ann_mmr_rerank")
    plan = physical_plan(df)
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "Cartesian" not in plan, plan


def test_rrf_no_cartesian(spark):
    df = _q(spark, "text_rrf_hybrid_search")
    plan = physical_plan(df)
    assert "Cartesian" not in plan, plan


def test_length_bucketing_single_scan(spark):
    """One documents scan feeds both the per-doc rows and the batch
    stats (the groupBy reuses the window's bucket partitioning)."""
    df = _q(spark, "pipeline_length_bucketing")
    plan = physical_plan(df)
    assert plan.count("Scan parquet") <= 2, plan
    assert "Cartesian" not in plan and "NestedLoop" not in plan, plan


def test_registry_wide_plan_lint(spark):
    """Blanket guard over EVERY registered query's physical plan: no
    CartesianProduct (an equi-join that lost its keys) and no
    BatchEvalPython (a row-at-a-time Python UDF snuck into the hot
    path — only Arrow-batched Pandas exec nodes are acceptable, per the
    zero-row-at-a-time-UDF discipline). Audited clean across all 207
    queries in round 5; this keeps it that way."""
    offenders = {}
    for name, spec in REGISTRY.items():
        plan = physical_plan(spec.fn(spark, SF_SMOKE))
        for marker in ("CartesianProduct", "BatchEvalPython"):
            if marker in plan:
                offenders.setdefault(marker, []).append(name)
    assert not offenders, offenders
