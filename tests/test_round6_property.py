"""Round-6 property tests: the large-star/small-star connected-
components engine vs an independent union-find reference, on graph
shapes chosen to break diameter-bound propagation assumptions."""

from __future__ import annotations

import random

import pytest

from rdbms_subsetter_spark.operators import dedup


def _union_find(n_nodes: set, edges: list) -> dict:
    """Independent ground truth: classic path-compressed union-find,
    labels = component minimum (matches the operator contract)."""
    parent = {v: v for v in n_nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    roots = {v: find(v) for v in n_nodes}
    comp_min: dict = {}
    for v, r in roots.items():
        comp_min[r] = min(comp_min.get(r, v), v)
    return {v: comp_min[r] for v, r in roots.items()}


def _graph_cases():
    rng = random.Random(420)
    cases = {
        # the diameter killer: a 60-node path needs 60 min-label rounds
        # but O(log^2) star rounds
        "path60": [(i, i + 1) for i in range(1, 60)],
        "star": [(1, i) for i in range(2, 20)],
        "two_cliques": [
            (a, b) for a in range(1, 8) for b in range(a + 1, 8)
        ] + [(a, b) for a in range(100, 106) for b in range(a + 1, 106)],
        "single_edge": [(7, 3)],
        "self_loopy": [(5, 5), (5, 6), (6, 6)],
    }
    for i in range(3):
        nodes = list(range(1, 40))
        cases[f"random{i}"] = [
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(45)
        ]
    return cases


@pytest.mark.parametrize("name", sorted(_graph_cases()))
def test_star_cc_matches_union_find(spark, name):
    edges = _graph_cases()[name]
    df = spark.createDataFrame(edges, "doc_id_1 long, doc_id_2 long")
    got = {
        (r["node"], r["cluster_id"])
        for r in dedup.connected_components(
            df, max_iter=12, algorithm="star"
        ).collect()
    }
    nodes = {v for e in edges for v in e if e[0] != e[1]} | {
        v for a, b in edges if a != b for v in (a, b)
    }
    # nodes appearing only in self-loops have no surviving edges and,
    # like the minlabel engine, do not appear in the output
    want = {
        (v, c)
        for v, c in _union_find(nodes, [e for e in edges if e[0] != e[1]]).items()
        if v in nodes
    }
    assert got == want, name


def test_star_and_minlabel_agree_on_shallow_graph(spark):
    """On the shallow near-dup-shaped graphs the battery actually runs,
    both engines must be drop-in interchangeable (same full output
    including sizes)."""
    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)]
    df = spark.createDataFrame(edges, "doc_id_1 long, doc_id_2 long")
    a = sorted(
        tuple(r)
        for r in dedup.connected_components(df, algorithm="minlabel").collect()
    )
    b = sorted(
        tuple(r)
        for r in dedup.connected_components(df, algorithm="star").collect()
    )
    assert a == b


def _bounded(fn, timeout=300):
    """Run ``fn`` in a daemon thread and return its result; fail if it
    has not finished within ``timeout`` seconds — a round's observed
    stop signal must be available even when the round has no rows."""
    import threading

    result: dict = {}
    worker = threading.Thread(target=lambda: result.setdefault("v", fn()), daemon=True)
    worker.start()
    worker.join(timeout=timeout)
    assert not worker.is_alive(), "blocked on an empty round"
    return result["v"]


@pytest.mark.parametrize("algorithm", ["minlabel", "star"])
def test_star_cc_empty_edges(spark, algorithm):
    df = spark.createDataFrame([], "doc_id_1 long, doc_id_2 long")
    assert _bounded(
        lambda: dedup.connected_components(df, algorithm=algorithm).count()
    ) == 0


@pytest.mark.parametrize("nodes_are_sources", [False, True])
def test_pagerank_empty_graph(spark, nodes_are_sources):
    from rdbms_subsetter_spark.operators import graph

    edges = spark.createDataFrame([], "src long, dst long")
    assert _bounded(
        lambda: graph.pagerank(edges, nodes_are_sources=nodes_are_sources).collect()
    ) == []
