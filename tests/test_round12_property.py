"""Round-12 optimization hardening: the changed operator internals keep
their contracts.

* decimal ``simhash`` reimplemented on the packed long — must equal an
  independent per-bit computation at bits=64 (the configuration whose
  ``lit(2**63)`` literal overflowed pre-r12) and at a small width.
* ``_capped_posting_lists`` (the bounded-state grouped inverted index)
  — hot shingles excluded BEFORE any posting list materializes, and the
  graded jaccard results match a python brute force on a corpus with a
  hotter-than-cap boilerplate shingle.
* ``_scan_task_estimate`` (the `.rdd`-free spread gate) — its
  spread/no-spread decision agrees with the physical partition count on
  real file scans.
* ``_grid_partitions`` — the blocked-kNN cells-per-task bound holds at
  every scale regime.
"""

from __future__ import annotations

from itertools import combinations

import pytest
from pyspark.sql import functions as F

from rdbms_subsetter_spark.operators import dedup
from rdbms_subsetter_spark.operators.similarity import (
    _GRID_CELLS_PER_TASK,
    _grid_partitions,
)

SF_SMALL = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# decimal simhash on the packed long
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("bits", [8, 64])
def test_simhash_decimal_matches_independent_per_bit_form(spark, bits):
    """The packed-long decimal form equals Σ 2^b over positive per-bit
    sums computed by the retained INDEPENDENT wide aggregation
    (``_simhash_bits_wide``), including bits=64 where the old decimal
    form's ``lit(2**63)`` overflowed (VERDICT r11 item 5)."""
    from rdbms_subsetter_spark.catalog import Catalog

    docs = Catalog(spark, SF_SMALL)["documents"].limit(100)
    got = {
        r["doc_id"]: int(r["simhash"])
        for r in dedup.simhash(docs, bits=bits).collect()
    }
    wide = dedup._simhash_bits_wide(docs, bits=bits).collect()
    want = {
        r["doc_id"]: sum(2**b for b in range(bits) if r[f"bit{b}"] == 1)
        for r in wide
    }
    assert got == want
    # the 60-bit portable hash can never set bits >= 60, so the data
    # path cannot exercise the sign bit; the negative-long branch is
    # covered directly below


def test_unsigned_decimal_covers_the_sign_bit(spark):
    """The two's-complement correction — the exact spot where the old
    decimal form overflowed (``lit(2**63)``) — on synthetic longs
    including the most-negative and -1 (all-bits-set) values."""
    vals = [0, 1, 2**59, 2**62, -(2**63), -1, -(2**62)]
    df = spark.createDataFrame([(v,) for v in vals], "sig long")
    got = [
        int(r["u"])
        for r in df.select(dedup._unsigned_decimal(F.col("sig")).alias("u")).collect()
    ]
    assert got == [v % 2**64 for v in vals]


# ---------------------------------------------------------------------------
# bounded-state capped posting lists
# ---------------------------------------------------------------------------


def _mk_docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_capped_posting_lists_drop_hot_shingles_before_aggregation(spark):
    """A boilerplate shingle present in more than ``cap`` docs must not
    appear in either returned relation (it is anti-joined away before
    the list aggregation, so no buffer ever holds its doc set)."""
    boiler = "common header line here"
    texts = [f"{boiler} unique tail {i} alpha beta" for i in range(6)]
    docs = _mk_docs(spark, texts)
    cold, grouped = dedup._capped_posting_lists(docs, n=4, max_doc_freq=3)
    hot_hash_rows = (
        dedup._shingle_rows(docs, 4, hashed=True)
        .groupBy("shingle")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") > 3)
        .collect()
    )
    hot = {r["shingle"] for r in hot_hash_rows}
    assert hot, "fixture must contain a hotter-than-cap shingle"
    assert not {r["shingle"] for r in cold.select("shingle").distinct().collect()} & hot
    assert not {r["shingle"] for r in grouped.select("shingle").collect()} & hot
    for r in grouped.collect():
        assert len(r["ds"]) <= 3


def test_capped_jaccard_matches_bruteforce_with_hot_shingle(spark):
    """Graded capped-jaccard output equals a python brute force that
    applies the identical df cap, on a corpus where one shingle is
    hotter than the cap."""
    cap, n, theta = 3, 3, 0.5
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",
        "the quick brown fox sleeps all day long",
        "the quick brown fox jumps over the lazy dog today",
        "completely different text about spark optimization rounds",
    ]
    docs = _mk_docs(spark, texts)
    got = {
        (r["doc_id_1"], r["doc_id_2"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(
            docs, n=n, threshold=theta, max_doc_freq=cap
        ).collect()
    }

    def sh_set(t):
        toks = t.split()
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    sets = {i: sh_set(t) for i, t in enumerate(texts)}
    df_count: dict[str, int] = {}
    for s in sets.values():
        for g in s:
            df_count[g] = df_count.get(g, 0) + 1
    sets = {i: {g for g in s if df_count[g] <= cap} for i, s in sets.items()}
    want = set()
    for a, b in combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if union and inter / union >= theta:
            want.add((a, b, round(inter / union, 6)))
    assert got == want and want, (got, want)


# ---------------------------------------------------------------------------
# .rdd-free spread gate
# ---------------------------------------------------------------------------


def test_scan_task_estimate_decision_parity(spark):
    """The file-metadata estimate must reach the same spread/no-spread
    decision as the physical partition count on real parquet scans."""
    from rdbms_subsetter_spark.catalog import Catalog

    target = spark.sparkContext.defaultParallelism
    cat = Catalog(spark, SF_SMALL)
    for t in ("documents", "orders", "lineitem"):
        df = cat[t]
        est = dedup._scan_task_estimate(df)
        actual = df.rdd.getNumPartitions()
        assert est is not None
        assert (est * 4 < target) == (actual * 4 < target), (t, est, actual)


@pytest.mark.parametrize(
    "max_pb,want_bytes",
    [
        ("128mb", 128 << 20),
        ("1gb", 1 << 30),
        ("2t", 2 << 40),
        ("1pb", 1 << 50),
        ("134217728b", 128 << 20),  # the value Spark reports when unset
        ("lots", 128 << 20),  # unparsable: falls back to the default
    ],
)
def test_scan_task_estimate_parses_byte_suffixes(tmp_path, max_pb, want_bytes):
    """ADVICE r12: ``spark.sql.files.maxPartitionBytes`` set as ``128mb``,
    ``1gb``, ``2t`` or ``1pb`` crashed the estimate.  A 3 GiB sparse
    file on one core makes the task count ``ceil(size / maxPartitionBytes)``."""
    from types import SimpleNamespace

    f = tmp_path / "part-0.parquet"
    with open(f, "wb") as fh:
        fh.truncate(3 << 30)
    confs = {
        "spark.sql.files.maxPartitionBytes": max_pb,
        "spark.sql.files.openCostInBytes": "0",
    }
    docs = SimpleNamespace(
        inputFiles=lambda: [f"file://{f}"],
        sparkSession=SimpleNamespace(
            conf=SimpleNamespace(get=confs.__getitem__),
            sparkContext=SimpleNamespace(defaultParallelism=1),
        ),
    )
    assert dedup._scan_task_estimate(docs) == -(-(3 << 30) // want_bytes)


def test_scan_task_estimate_none_for_local_relation(spark):
    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    assert dedup._scan_task_estimate(df) is None
    # and the spread falls back without raising
    dedup._spread_input(df).collect()


# ---------------------------------------------------------------------------
# blocked-kNN grid bound
# ---------------------------------------------------------------------------


def test_grid_partitions_bounds_cells_per_task():
    for n_blocks in (1, 2, 4, 16, 64, 100, 500):
        for parallelism in (4, 32, 256):
            n_part = _grid_partitions(n_blocks, parallelism)
            cells = n_blocks * n_blocks
            assert 1 <= n_part <= cells or cells == 0
            # the contract: no partition needs to hold more than the
            # cells-per-task cap on average
            assert cells / n_part <= _GRID_CELLS_PER_TASK + 1e-9


# ---------------------------------------------------------------------------
# scale-adaptive closure key materialization
# ---------------------------------------------------------------------------


def _flagship_rows(eng, cat):
    from rdbms_subsetter_spark.sampling import sample_modulo

    reg = cat.registry
    keys = {
        "orders": sample_modulo(cat["orders"], "o_orderkey", 20).select("o_orderkey")
    }
    keys = eng.close_parents(keys)
    li_edge = [
        fk for fk in reg.fks if fk.table == "lineitem" and fk.ref_table == "orders"
    ]
    keys = eng.pull_children(keys, k=3, edges=li_edge)
    keys = eng.close_parents(keys)
    return {t: eng.rows_for_keys(t, k) for t, k in keys.items()}


def test_closure_materialized_mode_identical_and_scan_bounded(spark):
    """materialize_keys=True (the >CLOSURE_MATERIALIZE_BYTES shape)
    returns byte-identical subset/integrity results AND its integrity
    plan scans each table O(1) times — the VERDICT r11 task-3 contract
    (default replay shape executed ~139 scans at runtime; the
    materialized shape must stay under ~25)."""
    import re

    from rdbms_subsetter_spark.catalog import Catalog
    from rdbms_subsetter_spark.closure import ClosureEngine

    cat = Catalog(spark, SF_SMALL)
    eng0 = ClosureEngine(cat)
    eng1 = ClosureEngine(cat, materialize_keys=True)
    assert eng0.materialize_keys is False  # auto stays off at test SFs
    r0, r1 = _flagship_rows(eng0, cat), _flagship_rows(eng1, cat)
    assert sorted(r0) == sorted(r1)
    for t in r0:
        kc = sorted(r0[t].columns)
        a = {tuple(x) for x in r0[t].select(*kc).collect()}
        b = {tuple(x) for x in r1[t].select(*kc).collect()}
        assert a == b, t
    i0 = eng0.integrity_violations_df(r0).orderBy("fk_edge")
    i1 = eng1.integrity_violations_df(r1).orderBy("fk_edge")
    assert [tuple(r) for r in i0.collect()] == [tuple(r) for r in i1.collect()]
    plan = i1._jdf.queryExecution().executedPlan().toString()
    n_scans = len(re.findall(r"Scan parquet", plan))
    assert n_scans <= 25, n_scans


# ---------------------------------------------------------------------------
# bench summary line: previous round's printed set carries over
# ---------------------------------------------------------------------------


def test_bench_summary_carries_previous_round_printed_set():
    """The one-line summary must include every query the previous
    round's captured line printed (so an entry that merely improved can
    never read as dropped_from_bench), stay within the byte budget, and
    the real repo's previous-round set must be discoverable."""
    import json

    import bench

    carried = bench._prev_round_printed()
    assert len(carried) >= 50  # BENCH_r11.json printed 53
    detail = json.load(open(bench.REPO / "BENCH_DETAIL.json"))
    timings = {
        k: v for k, v in detail["queries"].items() if isinstance(v, (int, float))
    }
    line = bench._summary_line(timings, round(sum(timings.values()), 3), 0.1, 0)
    assert len(line) < 2000  # the driver captures the LAST 2000 bytes
    printed = set(json.loads(line)["queries"])
    assert carried & set(timings) <= printed


def test_bench_summary_skips_an_entry_that_does_not_fit(monkeypatch, capsys):
    """ADVICE r12: an oversized carried entry used to ``break`` the fill
    loop, dropping every entry after it.  It is now skipped (with a
    stderr warning) and the smaller entries behind it still print."""
    import json

    import bench

    big = "carried_" + "x" * 1900
    monkeypatch.setattr(bench, "_prev_round_printed", lambda: {big, "small_a"})
    timings = {big: 9.0, "small_a": 1.0, "small_b": 0.5}
    line = bench._summary_line(timings, 10.5, 0.1, 0)
    assert len(line) <= 1900
    assert set(json.loads(line)["queries"]) == {"small_a", "small_b"}
    assert big in capsys.readouterr().err
