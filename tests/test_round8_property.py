"""Round-8 property/adversarial tests.

1. The ADVICE r07 contract fix: ``minlabel`` now raises on an
   unconverged fixpoint exactly like ``star`` does, instead of silently
   returning split components.
"""

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from pyspark.sql import functions as F

from rdbms_subsetter_spark.operators.dedup import connected_components

_FUZZ = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def test_minlabel_raises_on_nonconvergence(spark):
    """A diameter-29 chain cannot finish min-label propagation in 3
    rounds; the unconverged labels would silently split one component,
    so the contract (matching star's, ADVICE r07) is to raise."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(29)], "doc_id_1 long, doc_id_2 long"
    )
    with pytest.raises(RuntimeError, match="minlabel.*fixpoint"):
        connected_components(edges, algorithm="minlabel", max_iter=3)
    # and converges cleanly with an adequate budget
    got = connected_components(edges, algorithm="minlabel", max_iter=40).collect()
    assert len(got) == 30 and {r["cluster_id"] for r in got} == {0}


# -- round-8 operators --------------------------------------------------------


def test_salted_running_total_equals_plain_window(spark):
    """The range-bucket two-phase prefix sum is result-identical to the
    plain running window, including bucket boundaries and tie groups
    split across buckets."""
    from pyspark.sql import Window
    from rdbms_subsetter_spark.catalog import Catalog
    from rdbms_subsetter_spark.partitioning import salted_running_total
    from tests.conftest import SF_MED

    events = Catalog(spark, SF_MED)["events"]
    base = events.select(
        "event_id",
        "ts",
        (F.col("user_id") % 5).cast("string").alias("grp"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    got = {
        r["event_id"]: r["rt"]
        for r in salted_running_total(
            base, ["grp"], ["ts", "event_id"], "cents",
            bucket=F.date_trunc("day", F.col("ts")), out_col="rt",
        ).collect()
    }
    w = (
        Window.partitionBy("grp")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        r["event_id"]: r["rt"]
        for r in base.withColumn("rt", F.sum("cents").over(w)).collect()
    }
    assert got == want


def test_substring_dedup_exact_cases(spark):
    """Deterministic LCS cases: identical docs (lcs = full length),
    shared mid-run, run below min_len excluded, short/empty docs safe,
    and the max_run_freq cap drops universal-boilerplate pairs."""
    from rdbms_subsetter_spark.operators.dedup import substring_dedup_pairs

    run8 = "r0 r1 r2 r3 r4 r5 r6 r7"
    docs = spark.createDataFrame(
        [
            (0, "a0 a1 a2 " + run8 + " a3 a4"),          # shares run8 with 1
            (1, "b0 " + run8 + " b1 b2 b3 b4 b5"),
            (2, "c0 c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11"),  # identical to 3
            (3, "c0 c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11"),
            (4, "d0 d1 r0 r1 r2 r3 r4 d2 d3 d4 d5 d6"),    # only a 5-run with 0/1
            (5, "short doc"),
            (6, ""),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id_1"], r["doc_id_2"]): r["lcs_len"]
        for r in substring_dedup_pairs(docs, min_len=8).collect()
    }
    assert got == {(0, 1): 8, (2, 3): 12}
    # cap=1: every width-8 class here has df ≤ 2, so cap=1 kills all pairs
    capped = substring_dedup_pairs(docs, min_len=8, max_run_freq=1).collect()
    assert capped == []


@_FUZZ
@given(
    seqs=st.lists(
        st.lists(st.sampled_from(list("abcd")), min_size=0, max_size=24),
        min_size=2,
        max_size=5,
    ),
    min_len=st.sampled_from([2, 4, 5]),
)
def test_substring_dedup_matches_bruteforce_fuzzed(spark, seqs, min_len):
    """Fuzz vs an independent O(n·m) python LCS over tiny alphabets
    (maximum run-collision pressure, duplicate docs, empties)."""
    from rdbms_subsetter_spark.operators.dedup import substring_dedup_pairs

    docs = spark.createDataFrame(
        [(i, " ".join(f"t{c}" for c in s)) for i, s in enumerate(seqs)],
        "doc_id long, text string",
    )

    def lcs(a, b):
        best = 0
        for i in range(len(a)):
            for j in range(len(b)):
                k = 0
                while i + k < len(a) and j + k < len(b) and a[i + k] == b[j + k]:
                    k += 1
                best = max(best, k)
        return best

    want = {}
    for i in range(len(seqs)):
        for j in range(i + 1, len(seqs)):
            l = lcs(seqs[i], seqs[j])
            if l >= min_len:
                want[(i, j)] = l
    got = {
        (r["doc_id_1"], r["doc_id_2"]): r["lcs_len"]
        for r in substring_dedup_pairs(docs, min_len=min_len).collect()
    }
    assert got == want


def test_minhash_keep_set_invariants(spark):
    """dedup_minhash_keep composition on a crafted corpus: clusters from
    an independent union-find over the SAME verified pair graph, keep
    rule = min doc_id per cluster, singletons kept as their own cluster
    of one, one output row per corpus doc."""
    from rdbms_subsetter_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )

    base = " ".join(f"w{i:02d}" for i in range(40))
    docs = spark.createDataFrame(
        [
            (0, base),                              # 0,1,2: a near-dup chain
            (1, base + " x0"),
            (2, base + " x0 x1"),
            (10, "an unrelated document " + " ".join(f"q{i}" for i in range(30))),
            (11, "another singleton " + " ".join(f"z{i}" for i in range(30))),
        ],
        "doc_id long, text string",
    )
    edges = minhash_lsh_pairs(docs, num_hashes=16, bands=4, threshold=0.5)
    pair_list = [(r["doc_id_1"], r["doc_id_2"]) for r in edges.collect()]
    assert pair_list, "crafted near-dups must survive LSH + verify"

    # independent union-find over the same pairs
    parent = {d: d for d in [0, 1, 2, 10, 11]}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pair_list:
        parent[find(a)] = find(b)
    want_cluster = {d: min(x for x in parent if find(x) == find(d)) for d in parent}
    sizes = {}
    for d, c in want_cluster.items():
        sizes[c] = sizes.get(c, 0) + 1

    cc = connected_components(edges, algorithm="star").withColumnRenamed(
        "node", "doc_id"
    )
    out = docs.select("doc_id").join(cc, "doc_id", "left")
    rep = F.coalesce("cluster_id", F.col("doc_id"))
    got = {
        r["doc_id"]: (r["cluster_id"], r["n_members"], r["kept"])
        for r in out.select(
            "doc_id",
            rep.alias("cluster_id"),
            F.coalesce("cluster_size", F.lit(1)).cast("long").alias("n_members"),
            (rep == F.col("doc_id")).alias("kept"),
        ).collect()
    }
    assert set(got) == set(want_cluster)  # one row per corpus doc
    for d, (c, n, kept) in got.items():
        assert c == want_cluster[d]
        assert n == sizes[c]
        assert kept == (d == c)
    assert sum(1 for _, (_, _, k) in got.items() if k) == len(sizes)


def test_hll_rollup_booleans_and_partials(spark):
    """agg_hll_rollup at SF_SMALL: the sketch-error booleans hold, the
    exact columns match an independent exact aggregation, and merging
    the per-day partials tracks the direct single-pass sketch."""
    from rdbms_subsetter_spark.catalog import Catalog
    from rdbms_subsetter_spark.queries.sql import q_agg_hll_rollup
    from tests.conftest import SF_SMALL

    rows = {r["event_type"]: r for r in q_agg_hll_rollup(spark, SF_SMALL).collect()}
    ev = Catalog(spark, SF_SMALL)["events"]
    want = {
        r["event_type"]: (r["n_exact"], r["n_days"])
        for r in ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_exact"),
            F.countDistinct(F.date_trunc("day", F.col("ts"))).alias("n_days"),
        )
        .collect()
    }
    assert set(rows) == set(want)
    for t, r in rows.items():
        assert (r["n_exact"], r["n_days"]) == want[t]
        assert r["merged_ok"] and r["direct_ok"], (t, dict(r.asDict()))


def test_regression_agg_matches_numpy(spark):
    """regr_* aggregates vs an independent numpy OLS at SF_SMALL."""
    import numpy as np

    from rdbms_subsetter_spark.catalog import Catalog
    from rdbms_subsetter_spark.queries.sql import q_agg_regression
    from tests.conftest import SF_SMALL

    got = {r["l_returnflag"]: r for r in q_agg_regression(spark, SF_SMALL).collect()}
    li = Catalog(spark, SF_SMALL)["lineitem"].select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    by_flag = {}
    for r in li.collect():
        by_flag.setdefault(r["l_returnflag"], []).append(
            (r["l_quantity"], r["l_extendedprice"])
        )
    assert set(got) == set(by_flag)
    for flag, pts in by_flag.items():
        x = np.array([p[0] for p in pts], dtype=np.float64)
        y = np.array([p[1] for p in pts], dtype=np.float64)
        slope, intercept = np.polyfit(x, y, 1)
        r2 = float(np.corrcoef(x, y)[0, 1] ** 2)
        g = got[flag]
        assert g["n_pts"] == len(pts)
        assert abs(g["slope"] - slope) < 5e-4
        assert abs(g["intercept"] - intercept) < 5e-3
        # r2 is rounded to 4 decimals since round 9 (ADVICE r08), so
        # the quantization alone contributes up to 5e-5
        assert abs(g["r2"] - r2) < 6e-5
        assert abs(g["avg_qty"] - x.mean()) < 5e-4
        assert abs(g["avg_price"] - y.mean()) < 5e-3


def test_stream_join_state_eviction_needs_advancing_event_time(spark, tmp_path):
    """The ×64 events-rung probe, made a deterministic CI fact: a
    watermarked stream-stream interval join EVICTS state only when
    event time ADVANCES across micro-batches (the backfill shape —
    time-ordered replay); replaying the SAME event-time window
    repeatedly (dense-traffic reprocessing) pins the watermark after
    the first batch, so join state grows with every batch and nothing
    is ever removed.  Results are identical either way — only the
    state footprint differs — so the production lever for same-window
    density is bigger micro-batches, never 'wait for eviction'."""
    import datetime as dt
    import time as _time

    from rdbms_subsetter_spark.streaming.events import events_stream

    def write_copy(path, copy, shift):
        t0 = dt.datetime(2024, 1, 1, 0, 0) + shift
        rows = []
        for u in range(3):
            uid = copy * 100 + u
            rows.append((copy * 1000 + u * 2, t0 + dt.timedelta(minutes=10), uid, "click", 1.0))
            rows.append((copy * 1000 + u * 2 + 1, t0 + dt.timedelta(minutes=20), uid, "purchase", 1.0))
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, value double",
        ).coalesce(1).write.mode("append").parquet(path)
        _time.sleep(1.05)  # distinct mtimes → deterministic trigger order

    def run_shape(tag, advancing):
        d = str(tmp_path / tag)
        for c in range(3):
            write_copy(
                f"{d}/events.parquet",
                c,
                dt.timedelta(days=c) if advancing else dt.timedelta(0),
            )
        ev = events_stream(spark, d)
        clicks = (
            ev.filter(F.col("event_type") == "click")
            .select("user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts"))
            .withWatermark("click_ts", "1 hour")
        )
        purchases = (
            events_stream(spark, d)
            .filter(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("p_user_id"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("purchase_ts"),
            )
            .withWatermark("purchase_ts", "1 hour")
        )
        j = clicks.join(
            purchases,
            F.expr(
                "user_id = p_user_id AND purchase_ts >= click_ts "
                "AND purchase_ts <= click_ts + INTERVAL 1 HOUR"
            ),
        )
        q = (
            j.writeStream.outputMode("append")
            .format("memory")
            .queryName(f"ssj_{tag}")
            .start()
        )
        try:
            q.processAllAvailable()
            removed = sum(
                p["stateOperators"][0]["numRowsRemoved"]
                for p in q.recentProgress
                if p["stateOperators"]
            )
            final_state = next(
                p["stateOperators"][0]["numRowsTotal"]
                for p in reversed(q.recentProgress)
                if p["stateOperators"]
            )
            n_out = spark.table(f"ssj_{tag}").count()
        finally:
            q.stop()
        return removed, final_state, n_out

    removed_adv, state_adv, out_adv = run_shape("advancing", True)
    removed_same, state_same, out_same = run_shape("samewindow", False)
    assert out_adv == out_same == 9  # results replay-shape-independent
    assert removed_same == 0  # pinned watermark: nothing ever evicted
    assert state_same == 18  # every admitted row retained
    assert removed_adv > 0  # advancing event time actually evicts
    assert state_adv < state_same
