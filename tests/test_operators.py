"""Unit tests for the non-SQL-checkable operator properties: as-of join
semantics on a hand-built fixture, band-join edge behavior, IVF recall
vs the brute-force baseline, and stateful-streaming == batch-agg
equivalence.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from rdbms_subsetter_spark.operators import joins, similarity


def ts(m: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 0, m)


def test_asof_inclusive_backward(spark):
    left = spark.createDataFrame(
        [(1, "a", ts(5)), (2, "a", ts(10)), (3, "b", ts(5)), (4, "c", ts(5))],
        "id long, k string, t timestamp",
    )
    right = spark.createDataFrame(
        [(100, "a", ts(5)), (101, "a", ts(7)), (102, "b", ts(6))],
        "rid long, k string, rt timestamp",
    )
    out = joins.asof_join(
        left, right, on=[("k", "k")], left_ts="t", right_ts="rt",
        payload=["rid"], tiebreak="rid",
    )
    got = {r["id"]: r["rid"] for r in out.collect()}
    # id=1: rt==t inclusive -> 100; id=2: latest before -> 101
    # id=3: right row is later -> NULL; id=4: no right rows -> NULL
    assert got == {1: 100, 2: 101, 3: None, 4: None}
    assert out.count() == 4  # left-outer: no fan-out, no loss


def test_asof_strict_and_ties(spark):
    left = spark.createDataFrame([(1, "a", ts(5))], "id long, k string, t timestamp")
    right = spark.createDataFrame(
        [(100, "a", ts(5)), (101, "a", ts(3)), (102, "a", ts(3))],
        "rid long, k string, rt timestamp",
    )
    strict = joins.asof_join(
        left, right, on=[("k", "k")], left_ts="t", right_ts="rt",
        payload=["rid"], tiebreak="rid", strict=True,
    )
    # equal-ts row excluded; tie at ts(3) -> highest tiebreak wins
    assert strict.collect()[0]["rid"] == 102
    incl = joins.asof_join(
        left, right, on=[("k", "k")], left_ts="t", right_ts="rt",
        payload=["rid"], tiebreak="rid",
    )
    assert incl.collect()[0]["rid"] == 100


def test_band_join_edges(spark):
    fact = spark.createDataFrame(
        [(1, 10.0), (2, 19.999), (3, 20.0), (4, 5.0)], "id long, v double"
    )
    out = joins.band_join(fact, "v", [(10.0, 20.0), (20.0, 30.0)])
    got = {r["id"]: r["band_lo"] for r in out.collect()}
    # lo inclusive, hi exclusive; v=5 outside every band -> dropped
    assert got == {1: 10.0, 2: 10.0, 3: 20.0}


def test_ivf_recall_vs_brute_force(spark):
    import random

    random.seed(7)
    rows = [(i, [random.gauss(0, 1) for _ in range(16)]) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    exact = similarity.cosine_topk(emb, queries, k=5)
    approx = similarity.ivf_topk(emb, queries, k=5, n_clusters=8, n_probe=4)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"IVF recall too low: {recall}"
    # every approx hit must carry the exact cosine for that pair
    exact_all = similarity.cosine_topk(emb, queries, k=200)
    cos = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in exact_all.collect()}
    for r in approx.collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in cos:
            assert abs(cos[key] - r["cosine"]) < 1e-9


def test_approx_sketches_close_to_exact(spark):
    from rdbms_subsetter_spark.queries.sql import q_agg_approx_sketches, q_agg_distinct_percentile
    from tests.conftest import SF_SMALL

    approx = {r["l_returnflag"]: r for r in q_agg_approx_sketches(spark, SF_SMALL).collect()}
    exact = {r["l_returnflag"]: r for r in q_agg_distinct_percentile(spark, SF_SMALL).collect()}
    assert approx.keys() == exact.keys()
    for flag, e in exact.items():
        a = approx[flag]
        assert abs(a["approx_n_supp"] - e["n_supp"]) <= max(3, 0.05 * e["n_supp"])
        assert abs(a["approx_n_part"] - e["n_part"]) <= max(3, 0.05 * e["n_part"])
        assert abs(a["approx_median_price"] - e["median_price"]) <= 0.05 * e["median_price"]
        assert abs(a["approx_p90_price"] - e["p90_price"]) <= 0.05 * e["p90_price"]


def test_stateful_streaming_equals_batch(spark, tmp_path):
    from rdbms_subsetter_spark.queries.events import q_streaming_stateful_totals

    src = spark.createDataFrame(
        [(i, ts(i % 50), i % 3, "t", float(i)) for i in range(60)],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    path = str(tmp_path / "events.parquet")
    src.coalesce(2).write.parquet(path)
    out = q_streaming_stateful_totals(spark, str(tmp_path))
    got = {r["user_id"]: (r["n_events"], r["sum_value"]) for r in out.collect()}
    exp = {
        r["user_id"]: (r["n"], r["s"])
        for r in src.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("s"))
        .collect()
    }
    assert got == exp


def test_connected_components_path_graph(spark):
    """A 6-node path (worst-case diameter) plus an isolated edge: min
    label must propagate end-to-end and the loop must terminate."""
    from rdbms_subsetter_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11)],
        ["doc_id_1", "doc_id_2"],
    )
    got = {
        r["node"]: (r["cluster_id"], r["cluster_size"])
        for r in connected_components(edges).collect()
    }
    assert got == {
        1: (1, 6), 2: (1, 6), 3: (1, 6), 4: (1, 6), 5: (1, 6), 6: (1, 6),
        10: (10, 2), 11: (10, 2),
    }


def test_semdedup_keep_rule_vs_brute_force(spark):
    """semdedup's keep-rule: within a cell, drop b iff some a<b has
    cosine(a,b) >= threshold.  Recompute with numpy over the same
    deterministic cell assignment and compare the per-cell summary."""
    import numpy as np

    sf_dir = "/root/testdata/sf0.001"
    from rdbms_subsetter_spark.catalog import Catalog

    emb = Catalog(spark, sf_dir)["embeddings"]
    got = {
        r["cell"]: (r["n_vectors"], r["n_kept"])
        for r in similarity.semdedup(emb, n_clusters=8, threshold=0.95, seed=42).collect()
    }

    rows = sorted(emb.select("vec_id", "embedding").collect(), key=lambda r: r["vec_id"])
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    centers = similarity._lloyd_kmeans(mat[:4096], k=8, iters=10, seed=42)
    cells = ((mat[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    # mirror the operator: unit vectors truncated to float32 on the
    # Arrow wire, scored with a double-precision dot
    normed = (mat / np.linalg.norm(mat, axis=1, keepdims=True)).astype(np.float32).astype(np.float64)
    want = {}
    for c in np.unique(cells):
        m = cells == c
        cid, cv = ids[m], normed[m]
        cos = cv @ cv.T
        dropped = set()
        order = np.argsort(cid)
        for bi in order:
            for ai in order:
                if cid[ai] >= cid[bi]:
                    break
                if cos[ai, bi] >= 0.95:
                    dropped.add(cid[bi])
                    break
        want[int(c)] = (len(cid), len(cid) - len(dropped))
    assert got == want


def test_pagerank_matches_numpy(spark):
    """graph.pagerank (driver loop of Spark jobs) vs a dense numpy power
    iteration with identical dangling-mass redistribution."""
    import numpy as np

    from rdbms_subsetter_spark.operators import graph

    # small directed graph with a dangling node (4) and a hub (0)
    E = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 0), (3, 2), (2, 4)]
    edges = spark.createDataFrame(E, ["src", "dst"])
    got = {
        r["node"]: r["rank"]
        for r in graph.pagerank(edges, iterations=12, damping=0.85).collect()
    }

    n = 5
    A = np.zeros((n, n))
    for s, d in E:
        A[d, s] = 1.0
    outdeg = A.sum(axis=0)
    r = np.full(n, 1.0 / n)
    for _ in range(12):
        contrib = np.zeros(n)
        dangling = 0.0
        for s in range(n):
            if outdeg[s] == 0:
                dangling += r[s]
            else:
                contrib += A[:, s] * (r[s] / outdeg[s])
        r = (0.15 + 0.85 * dangling) / n + 0.85 * contrib

    assert set(got) == set(range(n))
    for v in range(n):
        assert abs(got[v] - r[v]) < 1e-12, (v, got[v], r[v])
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_nodes_are_sources_fast_path(spark):
    """The nodes_are_sources fast path (node set = out-degree keys) must
    give identical ranks to the generic path on a symmetrized graph."""
    from rdbms_subsetter_spark.operators import graph

    E = [(0, 1), (1, 2), (2, 3), (3, 0), (1, 3)]
    edges = graph.symmetrize(
        spark.createDataFrame(E, ["src", "dst"])
    ).localCheckpoint(eager=True)
    slow = {
        r["node"]: r["rank"]
        for r in graph.pagerank(edges, iterations=6).collect()
    }
    fast = {
        r["node"]: r["rank"]
        for r in graph.pagerank(edges, iterations=6, nodes_are_sources=True).collect()
    }
    assert slow == fast


# ---------------------------------------------------------------------------
# Multimodal decoder gate: run whichever branch this runtime supports
# ---------------------------------------------------------------------------


def test_multimodal_decoder_gate(spark):
    """decode_media(decoder='auto') must pick the PIL path when pillow
    is importable and the deterministic fake otherwise; the unavailable
    branch must raise NotImplementedError, never silently fake."""
    from rdbms_subsetter_spark.catalog import Catalog
    from rdbms_subsetter_spark.operators import multimodal
    from tests.conftest import SF_SMALL

    media = multimodal.media_from_documents(
        Catalog(spark, SF_SMALL)["documents"]
    ).limit(8)

    if multimodal.FAKE_DECODE:
        rows = multimodal.decode_media(media, decoder="auto").collect()
        assert rows and all(r["width"] == r["byte_len"] % 640 + 1 for r in rows)
        import pytest as _pytest

        with _pytest.raises(NotImplementedError):
            multimodal.decode_media(media, decoder="real")
    else:
        # pillow present: payloads here are fake UTF-8 blobs, so the real
        # decoder must yield NULL dims (not crash); a genuine PNG decodes
        import io

        from PIL import Image

        buf = io.BytesIO()
        Image.new("RGB", (13, 7)).save(buf, format="PNG")
        png = buf.getvalue()
        df = spark.createDataFrame(
            [(1, png, "image")], "media_id long, payload binary, media_type string"
        )
        real = {r["media_id"]: r for r in multimodal.decode_media(df, decoder="real").collect()}
        assert real[1]["width"] == 13 and real[1]["height"] == 7
        fake_rows = multimodal.decode_media(media, decoder="real").collect()
        assert all(r["width"] is None for r in fake_rows if r["media_type"] == "image")


def test_pca_matches_numpy(spark):
    """pca_fit_project ≡ direct numpy PCA on the collected matrix, up to
    the documented sign convention — the correctness anchor for the
    rows-only embed_pca_project gate."""
    import numpy as np
    from rdbms_subsetter_spark.catalog import Catalog
    from rdbms_subsetter_spark.operators.similarity import pca_fit_project

    cat = Catalog(spark, "/root/testdata/sf0.001")
    emb = cat["embeddings"]
    got = {
        r["vec_id"]: (r["pc1"], r["pc2"], r["evr1"], r["evr2"])
        for r in pca_fit_project(emb, n_components=2).collect()
    }

    rows = emb.select("vec_id", "embedding").collect()
    ids = [r["vec_id"] for r in rows]
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    mean = mat.mean(axis=0)
    cov = np.cov(mat, rowvar=False, bias=True)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:2]
    total = vals.sum()
    for k, idx in enumerate(order):
        v = vecs[:, idx]
        if v[np.abs(v).argmax()] < 0:
            v = -v
        want = (mat - mean) @ v
        for i, vid in enumerate(ids):
            assert abs(got[vid][k] - want[i]) < 1e-3, (vid, k)
        assert abs(got[vid][2 + k] - vals[idx] / total) < 1e-6


def test_er_dictionary_reduction_equals_naive(spark):
    """er_fuzzy_join's distinct-name reduction is exact: it must produce
    the same best matches as the naive blocked row-level join."""
    from pyspark.sql import Window, functions as F
    from rdbms_subsetter_spark.catalog import Catalog
    from rdbms_subsetter_spark.queries.similarity import q_er_fuzzy_join

    sf = "/root/testdata/sf0.001"
    got = {
        r["dirty_key"]: (r["cand_key"], r["lev"])
        for r in q_er_fuzzy_join(spark, sf).collect()
    }

    parts = Catalog(spark, sf)["part"]
    block = F.regexp_extract(F.col("p_name"), "[^ ]+$", 0)
    dirty = parts.where(F.col("p_partkey") % 7 == 0).select(
        F.col("p_partkey").alias("dirty_key"),
        F.concat(F.substring("p_name", 1, 1), F.expr("substring(p_name, 3)")).alias(
            "dirty_name"
        ),
        block.alias("block"),
    )
    clean = parts.select(
        F.col("p_partkey").alias("cand_key"),
        F.col("p_name").alias("cand_name"),
        block.alias("block"),
    )
    lev = F.levenshtein("dirty_name", "cand_name")
    w = Window.partitionBy("dirty_key").orderBy("lev", "cand_key")
    naive = (
        dirty.join(clean, "block")
        .where(lev <= 2)
        .select("dirty_key", "cand_key", lev.cast("long").alias("lev"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
    )
    want = {r["dirty_key"]: (r["cand_key"], r["lev"]) for r in naive.collect()}
    assert got == want


def test_runtime_bloom_filter_fires(spark):
    """join_runtime_bloom's conf window really injects the runtime
    bloom filter: bloom_filter_agg appears in the optimized plan of the
    join built under the window, and the returned result equals the
    plain join."""
    from pyspark.sql import functions as F

    from rdbms_subsetter_spark.catalog import Catalog
    from rdbms_subsetter_spark.queries.sql import _BLOOM_CONFS, q_join_runtime_bloom
    from tests.conftest import SF_SMALL

    from rdbms_subsetter_spark.session import conf_window

    with conf_window(spark, _BLOOM_CONFS):
        cat = Catalog(spark, SF_SMALL)
        o = cat["orders"].where(F.col("o_orderpriority") == "1-URGENT").select(
            "o_orderkey"
        )
        li = cat["lineitem"].select("l_orderkey", "l_extendedprice")
        j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).groupBy().count()
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:2000]

    got = {
        r["l_returnflag"]: (r["n_items"], r["revenue"])
        for r in q_join_runtime_bloom(spark, SF_SMALL).collect()
    }
    cat = Catalog(spark, SF_SMALL)
    plain = (
        cat["lineitem"]
        .join(
            cat["orders"].where(F.col("o_orderpriority") == "1-URGENT"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
    )
    want = {r["l_returnflag"]: (r["n_items"], r["revenue"]) for r in plain.collect()}
    assert got == want


def test_merge_partition_pruned_rewrites_only_touched_partitions(spark):
    """The dynamic-overwrite MERGE's scale contract, asserted on real
    files: after the merge, every UNTOUCHED partition directory (out of
    merge scope OR in scope with zero updated keys) is byte-identical
    to the pre-merge base write, while every touched partition
    (nation < 5 with updates) was rewritten.  This is the property that
    makes the write cost ∝ touched partitions instead of table size."""
    import hashlib
    import os

    from rdbms_subsetter_spark.queries.sources import (
        merge_partition_pruned_table,
        q_merge_partition_pruned,
    )
    from tests.conftest import SF_SMALL

    def digest(root):
        out = {}
        for dirpath, _dirs, files in os.walk(root):
            part = os.path.relpath(dirpath, root)
            # compare CONTENT digests only: writer task UUIDs in file
            # names change on every write, bytes are the contract
            for f in files:
                if f.endswith(".parquet"):
                    h = hashlib.md5(
                        open(os.path.join(dirpath, f), "rb").read()
                    ).hexdigest()
                    out.setdefault(part, []).append(h)
        for part in out:
            out[part] = sorted(out[part])
        return out

    out = merge_partition_pruned_table(spark, SF_SMALL)
    merged = digest(out)
    # re-run only step 1 (static full base rewrite) to recover the
    # pre-merge state of every partition, then compare
    from pyspark.sql import functions as F

    from rdbms_subsetter_spark.catalog import Catalog

    cat = Catalog(spark, SF_SMALL)
    base = cat["customer"].select(
        "c_custkey",
        F.round(F.col("c_acctbal"), 2).alias("balance"),
        F.lit(False).alias("updated"),
        F.col("c_nationkey").alias("nation"),
    )
    base.write.mode("overwrite").partitionBy("nation").parquet(out)
    pre = digest(out)

    res = {r["nation"]: r["n_updated"] for r in q_merge_partition_pruned(spark, SF_SMALL).collect()}
    # untouched = outside the merge scope (nation >= 5) OR in scope but
    # with zero updated keys — BOTH must be byte-identical (ADVICE r04:
    # the in-scope-no-updates case is the one the touched-set semi-join
    # exists for)
    untouched = [p for p in pre if p.startswith("nation=")
                 and (int(p.split("=")[1]) >= 5
                      or res.get(int(p.split("=")[1]), 0) == 0)]
    assert untouched, "fixture must have nations >= 5"
    for p in untouched:
        assert merged[p] == pre[p], f"untouched partition {p} was rewritten"

    touched = [p for p in pre if p.startswith("nation=") and int(p.split("=")[1]) < 5
               and res.get(int(p.split("=")[1]), 0) > 0]
    for p in touched:
        assert merged[p] != pre[p], f"touched partition {p} not rewritten"
    assert any(res[n] > 0 for n in res if n < 5), "fixture produced no updates"
