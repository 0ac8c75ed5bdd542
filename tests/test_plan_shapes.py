"""Physical-plan shape assertions — the `.explain("formatted")` audit the
scale mandate requires, pinned as regression tests: predicate pushdown
reaches the parquet scans, column pruning trims ReadSchema, dimension
joins broadcast, semi/anti joins stay semi/anti, single-shuffle
aggregations don't grow extra exchanges.

These tests read the PRE-execution plan (AQE may re-plan at runtime — only
strengthening the properties asserted here, e.g. promoting shuffle joins
to broadcast)."""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from cdc_apache_cassandra_spark.plans import QUERIES


def plan_str(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def count_op(plan: str, op: str) -> int:
    """Count physical operators via their detail headers '(N) <Op>' —
    each node appears exactly once there (the tree repeats them)."""
    return len(re.findall(rf"^\(\d+\) {op}\b", plan, flags=re.MULTILINE))


def q(name, spark, sf_dir):
    return QUERIES[name].fn(spark, sf_dir)


def test_q6_pushdown_and_pruning(spark, sf_dir):
    """Q6's selective predicates must reach the parquet scan, and the scan
    must read only the 4 referenced columns of lineitem's 11."""
    p = plan_str(q("tpch_q6_forecast_revenue", spark, sf_dir))
    assert "PushedFilters:" in p
    assert "l_shipdate" in p.split("PushedFilters:")[1].split("\n")[0]
    read_schema = p.split("ReadSchema:")[1].split("\n")[0]
    assert "l_extendedprice" in read_schema
    assert "l_returnflag" not in read_schema  # pruned
    assert "l_orderkey" not in read_schema  # pruned


def test_q1_single_shuffle_aggregation(spark, sf_dir):
    """Q1 is scan -> [spread] -> partial agg -> ONE hash exchange ->
    final agg. A second HASH-partitioned exchange would mean the
    map-side combine regressed; the scan-spread round-robin exchange
    (sources.registry.spread_scan — a no-op on multi-row-group inputs)
    is allowed and must stay BELOW the partial aggregate."""
    p = plan_str(q("tpch_q1_pricing_summary", spark, sf_dir))
    assert len(re.findall(r"Arguments: hashpartitioning", p)) == 1
    assert count_op(p, "Exchange") <= 2  # hash agg + optional scan spread
    assert count_op(p, "HashAggregate") == 2  # partial + final survive
    # ADVICE r11: assert the ordering the comment promises — the
    # round-robin spread (when present) must sit DEEPER in the formatted
    # tree than the first HashAggregate, i.e. below the partial agg, or
    # the map-side combine would run on the unspread scan.
    rr = p.find("roundrobinpartitioning")
    if rr != -1:
        first_agg = p.find("HashAggregate")
        assert first_agg != -1 and first_agg < rr, (
            "scan-spread exchange must stay below the partial aggregate"
        )


def test_dim_broadcasts(spark, sf_dir):
    """Queries joining region/nation must broadcast them (constant-size
    dims at any SF) — never shuffle the fact side for a 25-row join."""
    for name in ("tpch_q5_local_supplier_volume", "tpch_q7_volume_shipping",
                 "tpch_q9_product_profit", "tpch_q10_returned_items"):
        p = plan_str(q(name, spark, sf_dir))
        assert "BroadcastExchange" in p, name


def test_semi_anti_join_shapes(spark, sf_dir):
    p = plan_str(q("join_semi_orders_with_late_items", spark, sf_dir))
    assert "LeftSemi" in p
    p = plan_str(q("join_anti_customers_without_orders", spark, sf_dir))
    assert "LeftAnti" in p
    p = plan_str(q("tpch_q22_dormant_customers", spark, sf_dir))
    assert "LeftAnti" in p


def test_q4_semi_join_no_row_multiplication(spark, sf_dir):
    """EXISTS compiles to LeftSemi — lineitem rows must never multiply
    orders rows."""
    p = plan_str(q("tpch_q4_order_priority", spark, sf_dir))
    assert "LeftSemi" in p


def test_range_join_is_broadcast_not_cartesian_shuffle(spark, sf_dir):
    """The tier range join must be a broadcast nested loop over 4 rows,
    not a shuffle cartesian."""
    p = plan_str(q("join_range_value_tiers", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_exact_dedup_single_shuffle(spark, sf_dir):
    """Hash-groupBy dedup: shuffle only (hash, id) pairs, once."""
    p = plan_str(q("llm_dedup_exact", spark, sf_dir))
    assert count_op(p, "Exchange") == 1


def test_topk_uses_window_not_global_sort(spark, sf_dir):
    """Per-customer top-k must rank inside partitions (Window after one
    shuffle), not globally sort the fact table."""
    p = plan_str(q("window_topk_orders_per_customer", spark, sf_dir))
    assert "Window" in p
    # one exchange for the window partitioning; no global Sort-Exchange pair
    assert count_op(p, "Exchange") == 1


def test_ann_brute_force_broadcasts_queries(spark, sf_dir):
    """Brute-force ANN streams the corpus once with the query side
    broadcast — no N x N shuffle."""
    p = plan_str(q("llm_ann_cosine_topk", spark, sf_dir))
    assert "BroadcastExchange" in p


def test_scan_pruning_llm_token_count(spark, sf_dir):
    """documents has 5 columns; token counting reads 2."""
    p = plan_str(q("llm_token_count", spark, sf_dir))
    read_schema = p.split("ReadSchema:")[1].split("\n")[0]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "lang" not in read_schema and "source" not in read_schema


def test_asof_join_is_single_window_no_pair_join(spark, sf_dir):
    """The as-of attribution must be one shuffle + window over the union
    stream — no join operator (the pair-join formulation explodes)."""
    p = plan_str(q("events_asof_click_attribution", spark, sf_dir))
    assert count_op(p, "Window") >= 1
    for join_op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                    "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert count_op(p, join_op) == 0, join_op


def test_ivf_ann_broadcasts_queries_and_centroids(spark, sf_dir):
    """IVF: centroid assignment and query probe both broadcast the small
    side — the corpus is never shuffled for the search."""
    p = plan_str(q("llm_ann_ivf_topk", spark, sf_dir))
    assert "BroadcastExchange" in p


def test_q21_uses_anti_join(spark, sf_dir):
    p = plan_str(q("tpch_q21ish_blamed_suppliers", spark, sf_dir))
    assert "LeftAnti" in p


def test_whole_stage_codegen_on_hot_paths(spark, sf_dir):
    """The Q1/Q6 hot paths must run inside whole-stage codegen. Under AQE
    the pre-execution explain hides codegen stage assignment, so plan
    with AQE off for the assertion (the non-adaptive plan is the one AQE
    starts from; codegen eligibility is identical)."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name in ("tpch_q1_pricing_summary", "tpch_q6_forecast_revenue"):
            df = q(name, spark, sf_dir)
            # query fns re-enable AQE via tune(); force off for planning
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            p = plan_str(df, mode="simple")
            assert "*(" in p, name
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_null_safe_join_is_hash_join(spark, sf_dir):
    """eqNullSafe must plan as an equi-join on the null-wrapped key
    (coalesce + isnull key pair) — a nested-loop join here would be
    O(n*m) at scale. (The plan DOES contain BroadcastNestedLoopJoins:
    the intended 2-row replica-fanout cross joins in the event source —
    assert they are all condition-free Cross joins, nothing more.)"""
    p = plan_str(q("join_null_safe_mutation_pairs", spark, sf_dir))
    assert re.search(r"Left keys \[\d+\]: \[pk_p\S+, coalesce\(pk_c", p)
    for blk in re.findall(
        r"\(\d+\) BroadcastNestedLoopJoin[\s\S]*?(?=\n\(\d+\) )", p
    ):
        assert "Join type: Cross" in blk and "Join condition: None" in blk


def test_bfs_frontier_broadcasts(spark, sf_dir):
    """BFS must broadcast the (seed-bounded) label table into the edge
    join every hop — shuffling the edge list per hop is the scale bug."""
    p = plan_str(q("graph_bfs_hops", spark, sf_dir))
    assert count_op(p, "BroadcastHashJoin") >= 3  # one per hop


def test_unpivot_single_shuffle(spark, sf_dir):
    """stack() reshape feeds ONE exchange (the 4-group aggregate); the
    explode itself must stay narrow."""
    p = plan_str(q("stats_unpivot_measure_profile", spark, sf_dir))
    assert count_op(p, "Exchange") == 1


def test_gallery_scans_prune_columns(spark, sf_dir):
    """fn_string_gallery touches 5 of part's 6 columns via expressions;
    ReadSchema must not include the untouched one (p_retailprice)."""
    p = plan_str(q("fn_string_gallery", spark, sf_dir))
    read_schema = p.split("ReadSchema:")[1].split("\n")[0]
    assert "p_retailprice" not in read_schema
    assert "p_name" in read_schema


def test_mode_query_map_side_combines(spark, sf_dir):
    """Deterministic MODE = partial-count -> exchange -> final count ->
    tiny rank window; the count aggregate must map-side combine (two
    HashAggregates around one Exchange)."""
    p = plan_str(q("agg_mode_priority_by_status", spark, sf_dir))
    assert count_op(p, "HashAggregate") >= 2
    assert count_op(p, "Exchange") <= 3  # count + window partitioning


def test_srp_bucket_stays_jvm_side(spark, sf_dir):
    """Gaussian-plane SRP signatures are Catalyst higher-order folds over
    inlined literals — NO Python eval node may appear in the hot path."""
    p = plan_str(q("llm_dedup_embedding_srp", spark, sf_dir))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # the bucket equi-join is the only join
    assert count_op(p, "SortMergeJoin") + count_op(p, "BroadcastHashJoin") >= 1


def test_kmeans_assignment_broadcasts_centroids(spark, sf_dir):
    """Every Lloyd assignment must broadcast the (k x dim) centroid side —
    a shuffled cross-score would be the 100 TB mistake."""
    p = plan_str(q("llm_ann_ivf_kmeans_recall", spark, sf_dir))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_kmeans_means_are_fixed_point_not_membership_arrays(spark, sf_dir):
    """Round-3 fix: per-cell means must be order-free fixed-point
    component sums, never a collect_list of member VECTORS (a hot cell
    would become one multi-GB row). The Lloyd loop localCheckpoints per
    round, so inspect the means step's own plan (cell_means), which is
    exactly what each round compiles."""
    from pyspark.sql import functions as F

    from cdc_apache_cassandra_spark.operators.vectors import (
        as_double_vec,
        cell_means,
        ivf_assign,
    )
    from cdc_apache_cassandra_spark.sources.registry import load_table

    e = load_table(spark, sf_dir, "embeddings")
    n = e.select("vec_id", as_double_vec(F.col("embedding")).alias("vec"))
    cent0 = n.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("cid"), F.col("vec").alias("cvec")
    )
    p = plan_str(cell_means(ivf_assign(n, cent0, "vec"), "vec"))
    assert "collect_list(struct(vec_id" not in p
    assert "FLOOR" in p  # the fixed-point quantizer
    # two aggregation levels: (cid,pos) partial sums then dim-bounded
    # regroup — both map-side combinable
    assert count_op(p, "Generate") >= 1  # posexplode, not array fold


#: Queries allowed to keep an `Exchange SinglePartition` whose child is
#: NOT a grouping-key-free partial aggregate (scalar folds are auto-
#: allowed — they emit <=1 row per input task). Every entry must state
#: the cardinality bound that keeps the gathered side small at 100 TB.
#: Unlisted global gathers fail the lint below.
_SINGLE_PARTITION_ALLOWLIST = {
    # global window over the per-DAY aggregate: cardinality = distinct
    # days (time-bounded — years of data is still only thousands of rows)
    "events_cusum_changepoint": "per-day grain, time-bounded",
    "window_running_drawdown": "per-day grain, time-bounded",
    # global lag() over the per-MONTH aggregate: dozens of rows
    "orders_monthly_growth": "per-month grain, time-bounded",
}


@pytest.fixture(scope="module")
def registered_plans(spark, sf_dir):
    """Every registered plan built ONCE on the smoke corpus (sf0.001),
    as its ``simple`` and ``formatted`` explain strings — shared by the
    global plan lints below, which would otherwise each build all of
    them."""
    from cdc_apache_cassandra_spark.caching import release_plan_caches

    plans = {}
    for name, q in QUERIES.items():
        df = q.fn(spark, sf_dir)
        plans[name] = {
            "simple": plan_str(df, mode="simple"),
            "formatted": plan_str(df),
        }
    release_plan_caches()
    return plans


def test_single_partition_exchanges_are_folds_or_allowlisted(registered_plans):
    """Global scale lint (round-3 fix: the round-2 version could not see
    SinglePartition at all — it lives on the Arguments line of formatted
    explain, not the operator header). Every `Exchange SinglePartition`
    in every registered plan must be either a scalar FOLD (child is an
    aggregate with no grouping keys — <=1 row per input task, bounded by
    partition count) or belong to a query on the explicit allowlist
    above with a cardinality-bound justification. Unbounded-key global
    windows (the canonical 100x killer) fail here."""
    from tools.plan_report import single_partition_kinds

    offenders = {}
    for name, plans in registered_plans.items():
        kinds = single_partition_kinds(plans["simple"])
        n_global = kinds.count("global")
        if n_global and name not in _SINGLE_PARTITION_ALLOWLIST:
            offenders[name] = n_global
    assert not offenders, (
        f"unlisted global SinglePartition exchanges: {offenders} — "
        "either de-globalize (operators/ranking.attach_global_order) or "
        "allowlist with a cardinality bound"
    )


def test_deglobalized_queries_have_no_global_gather(spark):
    """The six queries de-globalized in round 3 must stay free of global
    gathers WITHOUT allowlisting — their only SinglePartition exchanges
    are scalar folds."""
    from tools.plan_report import single_partition_kinds

    sf = "/root/testdata/sf0.001"
    for name in (
        "orders_pareto_8020",
        "events_rfm_segmentation",
        "llm_dsir_importance_sample",
        "llm_systematic_sample",
        "llm_unigram_surprisal",
        "llm_vocab_growth",
    ):
        kinds = single_partition_kinds(
            plan_str(QUERIES[name].fn(spark, sf), mode="simple")
        )
        assert kinds.count("global") == 0, (name, kinds)
        assert name not in _SINGLE_PARTITION_ALLOWLIST


def test_no_cartesian_product_in_any_registered_plan(registered_plans):
    """Global scale lint: no registered query may compile to a
    CartesianProductExec — every deliberate cross join in the surface is
    a 1-row/broadcastable side (BroadcastNestedLoopJoin), never an
    unbounded pair blow-up. Also forbids BatchEvalPython (row-at-a-time
    Python UDFs): Python may appear only Arrow-batched (ArrowEvalPython /
    MapInPandas / FlatMapGroupsInPandas)."""
    offenders = {}
    for name, plans in registered_plans.items():
        p = plans["formatted"]
        hits = [
            op
            for op in ("CartesianProduct", "BatchEvalPython")
            if op in p
        ]
        if hits:
            offenders[name] = hits
    assert not offenders, offenders


def test_no_untracked_persist_in_source():
    """Cache-leak lint (r3 verdict item 6): library/plan code must never
    call bare .persist()/.cache() — every intra-query cache routes
    through caching.persist_scoped so entry points can release it after
    the action. Explicit .unpersist() calls are allowed (early release)."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / (
        "cdc_apache_cassandra_spark"
    )
    offenders = []
    for f in root.rglob("*.py"):
        if f.name == "caching.py":
            continue
        src = f.read_text()
        if ".persist()" in src or ".cache()" in src:
            offenders.append(str(f))
    assert not offenders, offenders


def test_scoped_caches_release_cleanly(spark):
    """After a query's action completes, release_plan_caches() must leave
    ZERO entries in Spark's CacheManager — no net-new persisted plans per
    query (the pagerank/fuzzy-dedup leak class)."""
    from cdc_apache_cassandra_spark import caching

    sf = "/root/testdata/sf0.001"
    spark.catalog.clearCache()  # isolate from other tests' caches
    for name in (
        "graph_pagerank_parts",
        "llm_dedup_ngram_jaccard_adjacent",
        "cdc_compound_key_records",
    ):
        QUERIES[name].fn(spark, sf).count()
    assert caching.tracked_count() > 0
    caching.release_plan_caches()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
