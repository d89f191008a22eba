"""Regenerate PLANS.md: formatted physical plans of the headline queries
with the scale properties each plan must keep (pushdown, broadcast,
shuffle count).  Run: ``python tools/plan_audit.py [sf_dir]``.
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

COMMENTARY = {
    "join_topk_unshipped": (
        "TPC-H-Q3 composite. Wanted: all three filters in `PushedFilters`, "
        "customer broadcast (dim side), single shuffle for lineitem⋈orders, "
        "`TakeOrderedAndProject` for the global top-10 (no full sort)."
    ),
    "agg_pricing_summary": (
        "Q1-shaped scan-agg. Wanted: shipdate filter pushed to parquet, "
        "partial_sum/partial_avg before the single exchange (map-side combine), "
        "one WholeStageCodegen span over scan→partial-agg."
    ),
    "asof_join_prev_event": (
        "Sort-based as-of join: union of both sides + one window sort per key. "
        "Wanted: exactly one shuffle (the window partitioning), no join "
        "operator at all — the pair fan-out never exists."
    ),
    "dedup_minhash_lsh": (
        "MinHash+LSH near-dup. Wanted: one explode→groupBy for signatures "
        "(single shuffle), band bucket equi-join (shuffle on band key), no "
        "cartesian products anywhere."
    ),
    "ann_cosine_topk": (
        "Brute-force cosine top-k. Wanted: one Arrow-batched `mapInPandas` scan "
        "(local top-k per batch inside), then a window over ~batches×queries×k "
        "rows only — the corpus itself is never shuffled."
    ),
    "subset_summary": (
        "Flagship FK-closure subset. Wanted: a shallow tree of left_semi joins "
        "(AQE broadcasts the small key sides), count branches run in parallel "
        "inside one union plan; every key set that gained a contribution is "
        "a LogicalRDD checkpoint made once where it is computed, so no branch "
        "replays the closure subtree."
    ),
    "sql_exists_subquery": (
        "Correlated EXISTS from the SQL surface. Wanted: RewritePredicateSubquery "
        "turns it into a LeftSemi join (never a per-row subquery), both the date "
        "range and the discount predicate in `PushedFilters`, scans pruned to "
        "the 2-3 referenced columns."
    ),
    "join_in_having": (
        "Q18 shape: IN-subquery with HAVING. Wanted: the HAVING branch is a "
        "partial-agg + filter whose surviving keys broadcast into a LeftSemi "
        "join; only one wide shuffle (the lineitem self-aggregation) at scale."
    ),
    "partitioned_source_prune": (
        "Directory-partitioned parquet scan. Wanted: the lang predicate in "
        "`PartitionFilters` (directory pruning at planning time), NOT in "
        "`PushedFilters` — 2/5 of files ever opened."
    ),
    "merge_upsert_latest": (
        "MERGE/upsert snapshot rewrite. Wanted: latest-per-key as "
        "partial_max_by BEFORE the exchange (an algebraic aggregate, not a "
        "per-partition sort), then one full-outer SMJ on the key."
    ),
    "docpipe_quality_filter": (
        "End-to-end corpus pipeline. Wanted: scoring entirely inside the scan "
        "stage's codegen (no UDF, no extra exchange), quality/lang filters "
        "before the single dedup-window shuffle on the fingerprint."
    ),
    "tpch_disjunctive_filter": (
        "Q19 OR-of-conjunctions. Wanted: the disjunction factored per side — "
        "brand/size OR-tree pushed to the part scan, quantity bands to the "
        "lineitem scan — plus a broadcast join and a single-row final agg."
    ),
    "tpch_min_cost_supplier": (
        "Q2 correlated min, decorrelated. Wanted: exactly two exchanges — the "
        "(part,supplier) cost aggregate, then the window repartition that "
        "moves ONLY that reduced aggregate (never raw lineitem); "
        "supplier/nation/region/part all broadcast."
    ),
    "tpch_waiting_suppliers": (
        "Q21 EXISTS/NOT-EXISTS chain, decorrelated to one window pass. "
        "Wanted: no self-join fan-out of lineitem — per-(order,supplier) agg, "
        "then count/max windows sharing one l_orderkey sort; three exchanges "
        "total (agg, window repartition of the reduced rows, final group-by)."
    ),
    "events_interpolate": (
        "Linear interpolation over the gap-fill spine. Wanted: all four "
        "ignore-nulls windows (prev/next value + timestamps) computed off ONE "
        "sort — two Window operators back-to-back, no extra exchange between "
        "them."
    ),
    "dedup_substring_coverage": (
        "Positional 8-gram substring-dedup signal. Wanted: the corpus exploded "
        "and hashed ONCE (xxhash64 8-byte keys), exactly two exchanges — the "
        "window count on the shingle key and the per-doc re-group; candidate "
        "volume O(total tokens), never O(docs²)."
    ),
    "er_fuzzy_join": (
        "Blocked fuzzy entity-resolution join. Wanted: a BroadcastHashJoin on "
        "the block key with the levenshtein bound as the join residual, then "
        "WindowGroupLimit partial top-1 BEFORE the shuffle — the best-match "
        "window moves at most one candidate per dirty key."
    ),
    "quality_lm_score": (
        "Self-corpus bigram LM score. Wanted: ONE explode of the corpus "
        "(checkpointed for its two consumers), the model as a map-side-"
        "combined HashAggregate (shuffle = bigram vocab, not positions), "
        "broadcast join back onto the position stream, no Window operator "
        "anywhere — the window formulation was 5× slower."
    ),
    "events_attribution": (
        "First/last-touch attribution. Wanted: ONE per-user window sort "
        "carrying both ignoreNulls frames, both modes exploded from the same "
        "pass (a union of per-mode groupBys would duplicate the window "
        "subtree), one final tiny-domain aggregate exchange."
    ),
    "tfidf_bm25": (
        "BM25 top-20. Wanted: tf and dl reduced map-side within one "
        "tokenization shuffle, df broadcast (tiny), global stats as a "
        "single-row broadcast cross join, TakeOrderedAndProject for the "
        "top-k (no full sort)."
    ),
    "docs_per_source_cap": (
        "Per-domain document cap. Wanted: WindowGroupLimit partial top-5 "
        "BEFORE the source-key exchange — each map task forwards at most 5 "
        "candidates per source, so the shuffle is ∝ sources × 5, not rows."
    ),
    "dedup_paragraph_exact": (
        "C4-style span-ownership dedup. Wanted: ONE explode of the corpus, "
        "spans hashed to 8-byte keys immediately (xxhash64 — no string "
        "shuffle), distinct (doc,hash) pre-agg, ownership as min-over-window "
        "on the hash partition (NOT a groupBy+join — the owner relation is "
        "corpus-scale and must never be a broadcast side), two exchanges "
        "total; never a doc × doc comparison."
    ),
    "knn_graph_degree": (
        "Exact cosine 3-NN graph in-degree audit. Wanted: the corpus scanned "
        "ONCE through the Arrow-batched BLAS kernel emitting local top-k per "
        "query (shuffle ∝ queries × k, never corpus × queries), one window "
        "for the global top-3, tiny-domain degree aggregates after."
    ),
    "agg_bitmap_distinct": (
        "Exact distinct via bitmap aggregates. Wanted: bitmap_construct_agg "
        "partials BEFORE the exchange — the shuffle carries fixed-size "
        "bitmaps per (group, bucket), never the distinct values themselves "
        "(count DISTINCT would expand partials to one row per value)."
    ),
    "agg_regression": (
        "One-pass distributed OLS: all six regr_* reduce to shared "
        "(n, Σx, Σy, Σxx, Σxy) moments. Wanted: ONE exchange with "
        "HashAggregate partial/final around it, scan pruned to the three "
        "referenced columns (ReadSchema)."
    ),
    "agg_hll_rollup": (
        "Re-mergeable sketch rollup: ObjectHashAggregate carries fixed-size "
        "HLL buffers; the upper level consumes PARTIAL SKETCHES via "
        "hll_union_agg, never raw rows — the audit's exact-distinct side "
        "exists only at gate scale. Wanted: hll_sketch_agg under the daily "
        "grouping, hll_union_agg above it, broadcast of the tiny merged side."
    ),
    "window_salted_running_total": (
        "Skew-proof running total: per-(key, day-bucket) windows + "
        "aggregated bucket offsets joined back, instead of ONE global "
        "per-key window serializing the 97%-hot key through a single task. "
        "Wanted: the raw-row window partitioned by (grp, __bucket); the "
        "only bare-grp window runs over the tiny per-bucket AGGREGATE "
        "(ordered by __bucket, never raw ts); offsets join broadcast at "
        "this scale (AQE's choice — not forced, so a long history can "
        "fall back to a shuffle join)."
    ),
    "child_topk_with_ties": (
        "Per-parent top-k WITH TIES. Wanted: WindowGroupLimit in rank mode, "
        "Partial before the parent-key exchange — ties included, but still "
        "at most the boundary group per map task crosses the wire."
    ),
    "hybrid_search_rrf": (
        "Hybrid BM25 ⊕ cosine RRF fusion. Wanted: both ranking lists cut by "
        "TakeOrderedAndProject (distributed partial top-100) BEFORE any rank "
        "window; the only windows run on the bounded 100-row frames; fusion "
        "joins two thin (id, rank) relations."
    ),
    "agg_sketch_error_bounds": (
        "Sketch accuracy gate. Wanted: TWO separate aggregates joined via "
        "BroadcastHashJoin on the tiny group key — the exact-DISTINCT side "
        "keeps its Expand+HashAggregate shape and the sketch side keeps "
        "ObjectHashAggregate; a single combined agg would force a "
        "SortAggregate fallback over the Expand-tripled rows (measured 8 s "
        "vs 1.4 s at sf0.1)."
    ),
}


COMMENTARY["ann_srp_recall"] = (
    "Recall audit (round 9). Wanted: ONE corpus scan feeding both the "
    "banded SRP signature join (query side broadcast) and the exact "
    "cosine kernel; the band join an equi-join on (band, bucket) — "
    "never a cartesian; final combine a single aggregate (no BNLJ "
    "one-row join)."
)
COMMENTARY["decontaminate_substring"] = (
    "Cross-corpus exact-span decontamination (round 10). Wanted: the "
    "prefix-doubling levels are self-equijoins shuffled on doc_id (no "
    "global sort anywhere), the hot-class valve a broadcast left_anti, "
    "the train×eval candidate join an equi-join on the run class — "
    "never a cartesian; the exact-LCS verify one Arrow mapInPandas "
    "over candidate pairs only."
)
COMMENTARY["knn_graph_blocked"] = (
    "Block-broadcast exact self-kNN (round 10). Wanted: one "
    "groupBy(blk) shuffle packs the corpus into B block rows; the BxB "
    "grid is explode(sequence)+equi-join on the block id — NO "
    "CartesianProduct/BNLJ; one Arrow mapInPandas scores block pairs "
    "emitting local top-(k+8) only, so the final window sees "
    "~B·n·slack rows, never the n² score space; no driver collect."
)
# streaming entries are deliberately absent: their queries() callables
# DRIVE the stream and return the materialized sink table, so a plan
# captured here would be the memory scan, not the streaming query.
# streaming_asof_enrich's headline plan property (ZERO stateful
# operators) is asserted from the query's own progress report in
# tests/test_round9_hardening.py instead.


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as entry_mod
    from rdbms_subsetter_spark.plans import count_exchanges, physical_plan
    from rdbms_subsetter_spark.session import get_spark

    spark = get_spark("plan_audit")
    qs = entry_mod.queries()
    out = [
        "# PLANS — physical-plan audit of headline queries",
        "",
        f"Generated by `python tools/plan_audit.py {sf_dir}`; plan-shape",
        "regressions are caught by `tests/test_scale_plans.py`.",
        "",
    ]
    for name, note in COMMENTARY.items():
        df = qs[name](spark, sf_dir)
        shuffles = count_exchanges(df)
        plan = physical_plan(df, "formatted")
        # keep the operator tree + scan details, drop the long column lists
        tree, _, details = plan.partition("\n\n")
        scans = [
            b for b in details.split("\n\n")
            if "Scan parquet" in b or "PushedFilters" in b
        ]
        out += [
            f"## {name}",
            "",
            note,
            "",
            f"Shuffle exchanges in plan: **{shuffles}**",
            "",
            "```",
            tree.strip(),
            "```",
            "",
        ]
        if scans:
            out += ["Scans:", "", "```", "\n\n".join(s.strip() for s in scans), "```", ""]
    Path(REPO / "PLANS.md").write_text("\n".join(out))
    print(f"wrote PLANS.md ({len(COMMENTARY)} plans)")


if __name__ == "__main__":
    main()
