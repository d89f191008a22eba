"""Plan-shape assertions: the scale contracts that value-equality tests
can't see.  A query that still returns the right rows but starts
shuffling where it shouldn't fails HERE.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rdbms_subsetter_spark import partitioning
from rdbms_subsetter_spark.catalog import Catalog
from rdbms_subsetter_spark.plans import (
    count_exchanges,
    has_broadcast_hash_join,
    physical_plan,
    pushed_filters,
    wholestage_codegen_spans,
)
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def cat(spark):
    return Catalog(spark, SF_SMALL)


def test_filter_pushdown_reaches_parquet(cat):
    df = cat["customer"].filter(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_nationkey") == 5)
    ).select("c_custkey")
    pushed = " ".join(pushed_filters(df))
    assert "c_mktsegment" in pushed and "c_nationkey" in pushed
    # column pruning: scan must read only the 3 referenced columns
    plan = physical_plan(df, "formatted")
    assert "ReadSchema: struct<c_custkey:bigint,c_nationkey:int,c_mktsegment:string>" in plan


def test_small_dim_join_broadcasts(cat):
    df = cat["customer"].join(
        F.broadcast(cat["nation"]), F.col("c_nationkey") == F.col("n_nationkey")
    )
    assert has_broadcast_hash_join(df)
    assert count_exchanges(df) == 0  # broadcast join: zero shuffles


def test_agg_is_single_shuffle_with_partials(cat):
    df = cat["lineitem"].groupBy("l_returnflag").agg(F.sum("l_quantity"))
    assert count_exchanges(df) == 1
    plan = physical_plan(df, "simple")
    assert "partial_sum" in plan  # map-side combine before the shuffle
    assert wholestage_codegen_spans(df) >= 1


def test_bucketed_join_requires_no_shuffle(spark, cat, tmp_path):
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    try:
        partitioning.write_bucketed(
            cat["orders"], "orders_b", ["o_orderkey"], n_buckets=8, sort_cols=["o_orderkey"]
        )
        partitioning.write_bucketed(
            cat["lineitem"], "lineitem_b", ["l_orderkey"], n_buckets=8
        )
        joined = spark.table("orders_b").join(
            spark.table("lineitem_b"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        assert count_exchanges(joined) == 0, physical_plan(joined, "simple")
        # and it still returns every lineitem match
        assert joined.count() == cat["lineitem"].join(
            cat["orders"], F.col("o_orderkey") == F.col("l_orderkey")
        ).count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_partitioned_layout_prunes(spark, cat, tmp_path):
    path = str(tmp_path / "orders_p")
    partitioning.write_partitioned(cat["orders"], path, ["o_orderstatus"])
    df = spark.read.parquet(path).filter(F.col("o_orderstatus") == "F")
    plan = physical_plan(df, "formatted")
    # partition filter, not a data filter: pruned before IO
    assert "PartitionFilters" in plan and "o_orderstatus" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]


def test_salted_topk_matches_unsalted(cat):
    from pyspark.sql import Window

    li = cat["lineitem"]
    order_cols = ["l_extendedprice", "l_partkey", "l_suppkey", "l_linenumber"]
    w = Window.partitionBy("l_orderkey").orderBy(*order_cols)
    plain = (
        li.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 2).drop("rn")
    )
    salted = partitioning.salted_topk(li, ["l_orderkey"], order_cols, k=2, salt=4)
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_salted_agg_matches_plain(cat):
    li = cat["lineitem"]
    plain = {
        r["l_returnflag"]: (r["n"], round(r["s"], 2))
        for r in li.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("s"))
        .collect()
    }
    salted = {
        r["l_returnflag"]: (r["n_rows"], round(r["sum_qty"], 2))
        for r in partitioning.salted_agg(
            li, ["l_returnflag"], {"l_quantity": "sum_qty"}, salt=8
        ).collect()
    }
    assert plain == salted


def test_asof_join_single_shuffle(cat):
    from rdbms_subsetter_spark.operators import joins

    left = cat["events"].select("event_id", "user_id", "ts")
    out = joins.asof_join(
        left,
        cat["orders"],
        on=[("user_id", "o_custkey")],
        left_ts="ts",
        right_ts="o_orderdate",
        payload=["o_orderkey"],
        tiebreak="o_orderkey",
    )
    # union + one window sort: at most one shuffle of the combined rows,
    # never a join fan-out
    assert count_exchanges(out) <= 1, physical_plan(out, "simple")


def test_partitioned_source_query_prunes(spark):
    from rdbms_subsetter_spark.queries.sources import q_partitioned_source_prune

    df = q_partitioned_source_prune(spark, SF_SMALL)
    plan = physical_plan(df, "formatted")
    pf = plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    assert "lang" in pf  # lang IN (...) prunes directories, not rows


def test_not_in_plans_null_aware_anti_join(spark):
    from rdbms_subsetter_spark.queries.sql import q_sql_not_in_null_aware

    df = q_sql_not_in_null_aware(spark, SF_SMALL)
    plan = physical_plan(df, "simple")
    # BHJ LeftAnti with the isNullAware flag (trailing "true")
    assert "LeftAnti, BuildRight, true" in plan, plan


def test_tpch_q6_predicates_all_reach_scan(spark):
    """Q6's whole WHERE clause (date range, discount band, quantity cap)
    must push to the parquet scan, leaving a 1-exchange global agg."""
    from rdbms_subsetter_spark.queries.tpch import q_tpch_forecast_revenue

    df = q_tpch_forecast_revenue(spark, SF_SMALL)
    pushed = " ".join(pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"
    assert count_exchanges(df) == 1


def test_tpch_q19_disjunction_splits_and_pushes(spark):
    """Q19's OR-of-conjunctions must be factored per side: the part scan
    gets the brand/size disjunction, the lineitem scan the quantity
    bands — neither scan reads unfiltered."""
    from rdbms_subsetter_spark.queries.tpch import q_tpch_disjunctive_filter

    df = q_tpch_disjunctive_filter(spark, SF_SMALL)
    pushed = " ".join(pushed_filters(df))
    assert "Or(" in pushed
    assert "p_brand" in pushed and "l_quantity" in pushed
    assert has_broadcast_hash_join(df)


def test_tpch_q9_dims_broadcast_single_shuffle(spark):
    """Q9's part/supplier/nation sides are broadcast; the only exchange
    is the final group-by (orders is broadcast at this SF by AQE)."""
    from rdbms_subsetter_spark.queries.tpch import q_tpch_product_profit

    df = q_tpch_product_profit(spark, SF_SMALL)
    assert has_broadcast_hash_join(df)
    assert count_exchanges(df) <= 3  # ≥1 group-by; orders may shuffle at scale


def test_interpolate_windows_share_one_sort(spark):
    """events_interpolate's four ignore-nulls window passes must share a
    single sort (same partition key + ordering): 1 Sort, ≤2 exchanges
    (hourly agg + window repartition)."""
    from rdbms_subsetter_spark.queries.events import q_events_interpolate

    df = q_events_interpolate(spark, SF_SMALL)
    plan = physical_plan(df, "simple")
    assert plan.count("Sort ") == 1, plan
    assert count_exchanges(df) <= 2


# ---------------------------------------------------------------------------
# Fleet-wide gate: no CartesianProduct in any graded query plan
# ---------------------------------------------------------------------------

# Intentional tiny-side nested-loop joins are allowed ONLY where the
# broadcast build side is a single-row global aggregate (compare-to-total
# pattern: the BNLJ replicates one row to every partition — O(n), not
# O(n²)).  A bare CartesianProduct (both sides unbounded) never is.
_BNLJ_ALLOWED = {
    "range_join_price_bands",      # fixed literal band table, non-equi between-predicate
    "mixture_temperature_sample",  # 1-row total-weight aggregate
    "tfidf_bm25",                  # 1-row corpus doc-count aggregate
    "tpch_idle_customers",         # 1-row global avg(acctbal) (Q22 shape)
    "tpch_important_parts",        # 1-row grand-total sum (Q11 shape)
    "hybrid_search_rrf",           # 1-row BM25 stats agg + 1-row query vector
    "join_cardinality_sketch",     # 1-row sketch/exact audit aggregates
    "agg_quantile_rollup",         # 1-row global [min,max] bounds aggregate
}


def _all_query_plans():
    import __spark_entry__ as entry_mod

    return sorted(entry_mod.queries().items())


@pytest.mark.parametrize("name,fn", _all_query_plans(), ids=lambda x: x if isinstance(x, str) else "")
def test_no_cartesian_product_anywhere(name, fn, spark):
    """The r01 verdict's scale gate: a CartesianProduct in a graded query
    is an O(n²) scale-killer regardless of local-SF correctness."""
    df = fn(spark, SF_SMALL)
    plan = physical_plan(df, "simple")
    assert "CartesianProduct" not in plan, f"{name}: CartesianProduct in plan"
    if name not in _BNLJ_ALLOWED:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: unexpected BroadcastNestedLoopJoin (allowlist it only "
            "if the broadcast side is bounded by construction)"
        )


def test_per_source_cap_uses_window_group_limit(spark):
    """The top-5-per-source cut must prune pre-shuffle: WindowGroupLimit
    forwards at most 5 candidates per (task, source)."""
    from rdbms_subsetter_spark.queries.text import q_docs_per_source_cap

    plan = physical_plan(q_docs_per_source_cap(spark, SF_SMALL), "simple")
    assert "WindowGroupLimit" in plan and ", Partial" in plan
    assert plan.count("Exchange") == 1


def test_eval_balanced_sample_uses_window_group_limit(spark):
    from rdbms_subsetter_spark.queries.text import q_eval_balanced_sample

    plan = physical_plan(q_eval_balanced_sample(spark, SF_SMALL), "simple")
    assert "WindowGroupLimit" in plan


def test_paragraph_dedup_single_scan_no_owner_broadcast(spark):
    """One corpus scan/explode; ownership via window — the corpus-scale
    owner relation must never appear as a broadcast join side."""
    from rdbms_subsetter_spark.queries.dedup import q_dedup_paragraph_exact

    plan = physical_plan(q_dedup_paragraph_exact(spark, SF_SMALL), "simple")
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Generate") == 1  # one explode
    assert "BroadcastHashJoin" not in plan


def test_hybrid_rrf_rankings_are_take_ordered(spark):
    """Both ranking lists must cut via TakeOrderedAndProject (distributed
    partial top-k), never a global sort of the corpus."""
    from rdbms_subsetter_spark.queries.similarity import q_hybrid_search_rrf

    plan = physical_plan(q_hybrid_search_rrf(spark, SF_SMALL), "simple")
    assert plan.count("TakeOrderedAndProject") >= 2


def test_incremental_delta_closure_is_semi_anti_joins(spark):
    """Delta closure = semi-joins up the FK chain + anti-joins against
    the existing key sets; no inner row-level joins of full tables."""
    from rdbms_subsetter_spark.queries.subset import q_subset_incremental_delta

    plan = physical_plan(q_subset_incremental_delta(spark, SF_SMALL), "simple")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_join_hints_take_effect(spark):
    """The MERGE branch must plan SortMergeJoin and the SHUFFLE_HASH
    branch ShuffledHashJoin — hints override AQE's broadcast choice."""
    from rdbms_subsetter_spark.queries.sql import q_join_strategy_hints

    plan = physical_plan(q_join_strategy_hints(spark, SF_SMALL), "simple")
    assert "SortMergeJoin" in plan
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_incremental_delta_anti_join_shuffle_free_when_bucketed(spark, cat):
    """SCALE.md's incremental-refresh upgrade claim, proven in the plan:
    with existing-subset keys and delta-closure keys both bucketed on
    the key, the delta anti-join plans ZERO exchanges — the 100 TB
    refresh touches only co-located buckets."""
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        existing = cat["orders"].where(F.col("o_orderkey") % 10 == 0).select("o_orderkey")
        closed_new = cat["orders"].where(F.col("o_orderkey") % 10 == 5).select("o_orderkey")
        partitioning.write_bucketed(existing, "exist_keys_b", ["o_orderkey"], n_buckets=8)
        partitioning.write_bucketed(closed_new, "new_keys_b", ["o_orderkey"], n_buckets=8)
        delta = spark.table("new_keys_b").join(
            spark.table("exist_keys_b"), on="o_orderkey", how="left_anti"
        )
        assert count_exchanges(delta) == 0, physical_plan(delta, "simple")
        assert delta.count() == closed_new.count()  # modulo classes disjoint
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS exist_keys_b")
        spark.sql("DROP TABLE IF EXISTS new_keys_b")


def test_qualify_topk_uses_window_group_limit(spark):
    """The QUALIFY-style rn<=3 predicate must compile to the same
    physical shape native QUALIFY engines produce: WindowGroupLimit
    pruning to ≤3 candidates per group before the window sort."""
    from rdbms_subsetter_spark.queries.sql import q_sql_qualify_topk

    plan = physical_plan(q_sql_qualify_topk(spark, SF_SMALL), "simple")
    assert "WindowGroupLimit" in plan


def test_join_cardinality_sketch_never_joins_to_estimate(spark):
    """The sketch side must estimate the join WITHOUT executing it:
    the only join in the plan is the exact-audit side (one broadcast
    of the selective build keys); each HLL is a partial-final
    aggregate over its own scan."""
    from rdbms_subsetter_spark.queries.sql import q_join_cardinality_sketch

    plan = physical_plan(q_join_cardinality_sketch(spark, SF_SMALL), "simple")
    assert plan.count("SortMergeJoin") == 0
    assert "BroadcastHashJoin" in plan  # exact audit: build side broadcast
    # HLL partials are map-side combined before the 1-row final agg
    assert "partial_approx_count_distinct" in plan


def test_cross_corpus_minhash_broadcasts_eval_bands(spark):
    """The eval side (always the small corpus in a train-vs-eval
    decontamination) must broadcast into the band-bucket join — the
    train corpus's band rows stream without a symmetric shuffle — and
    nothing in the plan is a cartesian product."""
    from rdbms_subsetter_spark.queries.dedup import q_dedup_minhash_cross_corpus

    plan = physical_plan(q_dedup_minhash_cross_corpus(spark, SF_SMALL), "simple")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_approx_top_k_is_single_shuffle_objecthash(spark):
    """The space-saving sketch must aggregate map-side (one partial +
    one final ObjectHashAggregate around a single exchange per stage) —
    the whole point of grading it next to the exact heavy-hitters
    groupBy, whose shuffle carries every distinct token."""
    from rdbms_subsetter_spark.queries.sql import q_agg_approx_top_k

    plan = physical_plan(q_agg_approx_top_k(spark, SF_SMALL), "simple")
    assert "ObjectHashAggregate" in plan
    assert "partial_approx_top_k" in plan  # map-side sketch merge


def test_closure_bucketed_semi_shuffle_free_and_correct(spark):
    """The bench-path bucketed closure (partitioning.closure_bucketed_semi)
    must plan the co-bucketed semi-join with ZERO Exchange — the
    function raises on any Exchange itself, so calling it IS the plan
    assertion — and must return exactly the rows the plain (shuffling)
    path returns."""
    from rdbms_subsetter_spark.partitioning import closure_bucketed_semi, portable_pct

    cat = Catalog(spark, SF_SMALL)
    got = closure_bucketed_semi(spark, SF_SMALL)
    sampled = cat["orders"].filter(portable_pct(F.col("o_orderkey"), seed=11) < 5)
    want = cat["lineitem"].join(
        sampled.select(F.col("o_orderkey").alias("l_orderkey")),
        on="l_orderkey",
        how="left_semi",
    )
    assert got.count() == want.count()
    assert got.exceptAll(want.select(*got.columns)).count() == 0


def test_agg_regression_single_exchange_pruned_scan(spark):
    """One map-side-combined aggregation: the six regr_* share the same
    moment partials, so the plan holds exactly one shuffle, and column
    pruning reaches the scan (three referenced columns only)."""
    import re

    from rdbms_subsetter_spark.queries.sql import q_agg_regression

    df = q_agg_regression(spark, SF_SMALL)
    assert count_exchanges(df) == 1
    m = re.search(r"ReadSchema: struct<([^>]*)>", physical_plan(df, "formatted"))
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"l_returnflag", "l_quantity", "l_extendedprice"}


def test_hll_rollup_merges_partial_sketches(spark):
    """The rollup's upper level must consume PARTIAL SKETCHES
    (hll_union_agg over the daily hll_sketch_agg buffers), never raw
    rows, through ObjectHashAggregate; the tiny merged side broadcasts
    into the audit join."""
    from rdbms_subsetter_spark.queries.sql import q_agg_hll_rollup

    plan = physical_plan(q_agg_hll_rollup(spark, SF_SMALL), "simple")
    low = plan.lower()
    assert "hll_sketch_agg" in low and "hll_union_agg" in low
    assert "objecthashaggregate" in low
    assert "BroadcastHashJoin" in plan


def test_salted_running_total_window_is_bucket_scoped(spark):
    """The raw-row running window must partition by (key, bucket) — the
    skew valve — with the bare-key window running only over the tiny
    per-bucket aggregate (the offsets side).  A regression to one bare-
    key window over raw rows re-serializes the hot key through a single
    task."""
    import re

    from rdbms_subsetter_spark.queries.sql import q_window_salted_running_total

    plan = physical_plan(
        q_window_salted_running_total(spark, SF_SMALL), "simple"
    )
    # Window lines end with ...], [<partition cols>], [<order cols>]
    windows = [
        (
            tuple(c.strip().split("#")[0] for c in m.group(1).split(",") if c.strip()),
            tuple(c.strip().split("#")[0] for c in m.group(2).split(",") if c.strip()),
        )
        for m in re.finditer(
            r"Window \[.*\], \[([^\]]*)\], \[([^\]]*)\]", plan
        )
    ]
    assert len(windows) == 2, plan
    parts = {p for p, _ in windows}
    assert ("grp", "__bucket") in parts  # raw-row window is salted
    assert ("grp",) in parts  # offsets window over the tiny aggregate
    for p, order in windows:
        if p == ("grp",):
            # the bare-key window may only run over the per-bucket
            # aggregate: ordered by __bucket, never by the raw time axis
            assert order and order[0] == "__bucket", windows
