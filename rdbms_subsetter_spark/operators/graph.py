"""Iterative graph algorithms over edge-list DataFrames.

The reference has exactly one graph: the FK graph, walked row-at-a-time
by recursion (`subsetter.py::create_row_in`).  Our engine generalizes
the same driver-side-loop-over-set-at-a-time-passes pattern (see
closure.py) to data-scale graphs: edges are a DataFrame, one iteration
is one join+aggregate job, and ``localCheckpoint`` per round keeps the
lineage flat so a 100-iteration run doesn't re-execute round 1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from rdbms_subsetter_spark.session import observed_checkpoint


def symmetrize(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Undirected view of a directed edge list (both orientations,
    deduped).  Self-loops are dropped."""
    fwd = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    rev = edges.select(F.col(dst).alias("src"), F.col(src).alias("dst"))
    return fwd.unionByName(rev).filter(F.col("src") != F.col("dst")).distinct()


# rounds between rank checkpoints when no node is dangling: the rounds
# in between run as ONE job (k joins + k shuffles in a single DAG),
# paying the job-boundary overhead once while still bounding lineage
CHECKPOINT_INTERVAL = 3


def pagerank(
    edges: DataFrame,
    iterations: int = 8,
    damping: float = 0.85,
    broadcast_ranks: bool = False,
    nodes_are_sources: bool = False,
) -> DataFrame:
    """PageRank over a directed edge list ``(src, dst)``.

    Classic power iteration as a driver loop of Spark jobs:
    ``rank_{t+1}(v) = (1-d)/N + d * Σ_{u→v} rank_t(u)/outdeg(u)``.
    Dangling-node mass is redistributed uniformly each round, so total
    rank stays 1 and the result matches the standard formulation
    (verified against a dense numpy power iteration in tests).

    Scale design: out-degree is joined into the rank STATE once, before
    the loop, so each iteration is edges ⋈ ranks + one groupBy(dst)
    shuffle of the map-side-combined contributions.  Its checkpoint
    observes N and the dangling-node count (``observed_checkpoint``);
    with dangling nodes each round's rank checkpoint observes the mass
    the next round redistributes (round 1: n_dangling / N).  Otherwise
    (always so when symmetrized) the coalesced rank vector is
    checkpointed every ``CHECKPOINT_INTERVAL`` rounds to cut lineage,
    the scheme closure.py uses for the FK fixpoint.  Degree skew on hub
    nodes is AQE's skew-join case.

    Join strategy: with ``broadcast_ranks`` the O(|V|) rank vector is
    broadcast each round and the edge list NEVER moves — right whenever
    ranks fit in executor memory (tens of millions of nodes).  Without
    it, edges are hash-partitioned on src once, outside the loop; every
    iteration's join then reshuffles only the small rank side against
    that fixed layout — the billion-node path.
    """
    edges = edges.select("src", "dst")
    if not broadcast_ranks:
        edges = edges.repartition("src")
    outdeg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    if nodes_are_sources:
        # caller guarantees every node has an out-edge (always true for
        # a symmetrized graph): the out-degree aggregate IS the node
        # set, so the union+distinct over both endpoints — a second
        # full pass over the edges — is skipped, and dangling nodes
        # are impossible by construction.
        nodes = outdeg
    else:
        nodes = (
            edges.select(F.col("src").alias("node"))
            .unionByName(edges.select(F.col("dst").alias("node")))
            .distinct()
            .join(outdeg, "node", "left")
        )
    node_deg, seen = observed_checkpoint(
        nodes.coalesce(4),
        n=F.count(F.lit(1)),
        n_dangling=F.count(F.when(F.col("outdeg").isNull(), 1)),
    )
    n = seen["n"]
    # empty graph: no nodes -> no ranks (the (1-d)/N base is undefined)
    if n == 0:
        return node_deg.select("node", F.lit(0.0).alias("rank")).limit(0)
    n_dangling = seen["n_dangling"]
    dangling = n_dangling / n
    base = (1.0 - damping) / n

    ranks = node_deg.withColumn("rank", F.lit(1.0 / n))
    for i in range(iterations):
        live = ranks.filter(F.col("outdeg").isNotNull())
        if broadcast_ranks:
            live = F.broadcast(live)
        contribs = (
            edges.join(live, edges["src"] == live["node"])
            .select("dst", (F.col("rank") / F.col("outdeg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = node_deg.join(
            contribs, node_deg["node"] == contribs["dst"], "left"
        ).select(
            "node",
            "outdeg",
            (
                F.lit(base + damping * dangling / n)
                + F.lit(damping) * F.coalesce("contrib", F.lit(0.0))
            ).alias("rank"),
        )
        if n_dangling:
            ranks, seen = observed_checkpoint(
                ranks.coalesce(4),
                m=F.sum(F.when(F.col("outdeg").isNull(), F.col("rank"))),
            )
            dangling = seen["m"]
        elif (i + 1) % CHECKPOINT_INTERVAL == 0 or i == iterations - 1:
            ranks = ranks.coalesce(4).localCheckpoint(eager=True)
    return ranks.select("node", "rank")
