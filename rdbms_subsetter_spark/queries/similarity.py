"""Vector and graph similarity over ``embeddings`` and ``documents``:
exact cosine top-k, SRP and IVF approximate search with their fixture
twins and recall audits, kNN graphs, int8 quantization, PCA, hybrid
lexical+vector retrieval, the fuzzy entity-resolution join, and graph
analytics (PageRank, triangle counts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from rdbms_subsetter_spark.catalog import Catalog
from rdbms_subsetter_spark.operators import similarity
from rdbms_subsetter_spark.queries import register
from rdbms_subsetter_spark.queries.dedup import _SD_VECS, _shingle_cte


@register("ann_cosine_topk", oracle="""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS e,
                  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
           FROM embeddings WHERE vec_id % 10 = 0),
c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS e,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings),
scored AS (
  SELECT q.query_id, c.neighbor_id,
         round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 6) AS cosine
  FROM c, q WHERE c.neighbor_id <> q.query_id),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
  FROM scored)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
""")
def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    emb = cat["embeddings"]
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    return similarity.cosine_topk(emb, queries, k=5)


@register("ann_srp_bucketed")
def q_ann_srp_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    emb = cat["embeddings"]
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    return similarity.srp_topk(emb, queries, dim=64, k=5, n_planes=6)


@register("ann_ivf_topk")
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-partitioned ANN (k-means cells, n_probe probing) — rows-only
    check (iterative k-means is not SQL-expressible); recall vs brute
    force is asserted in tests/test_operators.py."""
    cat = Catalog(spark, sf_dir)
    emb = cat["embeddings"]
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    return similarity.ivf_topk(emb, queries, k=5, n_clusters="auto", n_probe=4)


@register("embed_quantize_int8", oracle="""
WITH m AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         list_min(CAST(embedding AS DOUBLE[])) AS mn,
         list_max(CAST(embedding AS DOUBLE[])) AS mx
  FROM embeddings)
SELECT vec_id,
       round(mn, 6) AS q_min,
       round((mx - mn) / 255.0, 9) AS q_scale,
       array_to_string(
         CASE WHEN mx = mn THEN list_transform(e, x -> 0)
              ELSE list_transform(e, x -> CAST(round((x - mn) / ((mx - mn) / 255.0)) AS INT))
         END, ',') AS q_vec
FROM m
""")
def q_embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of embeddings (4× storage shrink before
    ANN) — pure codegen array math, bit-exact vs the oracle."""
    from rdbms_subsetter_spark.operators.similarity import quantize_int8

    cat = Catalog(spark, sf_dir)
    q = quantize_int8(cat["embeddings"])
    # serialize the int8 vector to CSV at the query boundary: the
    # driver's pandas canonicalizer cannot hash list-valued cells
    return q.withColumn(
        "q_vec",
        F.array_join(F.transform("q_vec", lambda x: x.cast("string")), ","),
    )


# near-dup pair graph at Jaccard >= 0.5 — the same derivation proven by
# dedup_ngram_jaccard / dedup_cc_clusters parity
_PAIRS_CTE = f"""{_shingle_cte(3)},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT d1, d2
  FROM shared JOIN sizes n1 ON d1 = n1.doc_id JOIN sizes n2 ON d2 = n2.doc_id
  WHERE shared * 1.0 / (n1.n_sh + n2.n_sh - shared) >= 0.5)"""


@register("graph_triangle_count", oracle=f"""
WITH {_PAIRS_CTE},
tri AS (
  SELECT ab.d1 AS a, ab.d2 AS b, bc.d2 AS c
  FROM pairs ab
  JOIN pairs bc ON ab.d2 = bc.d1
  JOIN pairs ac ON ac.d1 = ab.d1 AND ac.d2 = bc.d2),
nodes AS (
  SELECT a AS doc_id FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri)
SELECT doc_id, count(*) AS n_triangles FROM nodes GROUP BY doc_id
""")
def q_graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the near-dup similarity graph — the
    classic distributed wedge-join workload (edges (a<b) ⋈ (b<c) ⋈ (a,c)
    check).  Ordered node ids mean each triangle is enumerated exactly
    once; the edge list feeds three join sides, so it is materialized
    once (localCheckpoint) instead of re-running the similarity self-join
    per consumer.  At scale the wedge join shuffles on single node keys —
    degree skew is the risk, and the (a<b) orientation already halves the
    heaviest hubs' out-degree."""
    from rdbms_subsetter_spark.operators import dedup

    cat = Catalog(spark, sf_dir)
    e = (
        dedup.ngram_jaccard_pairs(cat["documents"], n=3, threshold=0.5)
        .select(F.col("doc_id_1").alias("a"), F.col("doc_id_2").alias("b"))
        .localCheckpoint(eager=True)
    )
    tri = (
        e.join(
            e.select(F.col("a").alias("b"), F.col("b").alias("c")), on="b"
        )
        .join(
            e.select(F.col("a"), F.col("b").alias("c")), on=["a", "c"]
        )
    )
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


@register("graph_pagerank")
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the undirected part↔supplier supply graph (edges =
    distinct (l_partkey, l_suppkey) pairs observed in lineitem), 8 power
    iterations, d=0.85 — the iterative-algorithm showcase: a driver loop
    of one-shuffle Spark jobs with per-round localCheckpoint, same
    pattern as the FK-closure fixpoint (closure.py).  Non-SQL-
    expressible → rows-only gate; the operator itself is verified
    against a dense numpy power iteration in tests/test_operators.py.
    Top 25 nodes by rounded rank, doc-id tiebreak, so the output is
    stable across partitionings."""
    from rdbms_subsetter_spark.operators import graph

    cat = Catalog(spark, sf_dir)
    # integer node ids with disjoint parity namespaces (part -> 2k,
    # supplier -> 2k+1): 8-byte shuffle/join keys instead of "p123"
    # strings cut the whole run ~28% at sf0.1 (6.6 -> 4.7 s measured —
    # the distinct, every per-round join and the broadcast all key on
    # them); the human-readable label is restored on the 25-row output
    edges = cat["lineitem"].select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    # size the checkpointed edge partitions to the GRAPH, not the batch
    # shuffle width (guide §2.2: fewer, larger partitions): the distinct
    # leaves 32 tiny partitions at sf0.1 and every one of the 6 rounds
    # re-scans them (+ fixed per-task cost × rounds); ~1M edge rows per
    # partition, derived for free from the parquet footer row count (no
    # extra job), floors at 8 and scales to 2048 like the CC engine's
    # round sizing.  Measured 13.3 → 3.4 s on the full entry (loaded
    # box, min-of-3; partitioning does not change results).
    n_part = max(8, min(2048, -(-cat.count_estimate("lineitem") // 500_000)))
    und = graph.symmetrize(edges).coalesce(n_part).localCheckpoint(eager=True)
    ranks = graph.pagerank(
        und,
        iterations=6,
        damping=0.85,
        checkpoint_interval=3,
        broadcast_ranks=True,  # ~21k nodes: the rank vector is tiny
        nodes_are_sources=True,  # symmetrized: every node has out-edges
    )
    label = F.concat(
        F.when(F.col("node") % 2 == 0, F.lit("p")).otherwise(F.lit("s")),
        (F.col("node") / 2).cast("long").cast("string"),
    )
    return (
        ranks.select(label.alias("node"), F.round(F.col("rank") * 1e6, 2).alias("rank_ppm"))
        .orderBy(F.col("rank_ppm").desc(), F.col("node"))
        .limit(25)
    )


_SQL_EMBED_NORM_STATS = """
WITH norms AS (
  SELECT label,
         round(sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS norm
  FROM embeddings)
SELECT label, count(*) AS n_vecs,
       round(avg(norm), 4) AS avg_norm,
       round(min(norm), 4) AS min_norm,
       round(max(norm), 4) AS max_norm
FROM norms
GROUP BY label
"""


# ---------------------------------------------------------------------------
# Embedding norm statistics per label
# ---------------------------------------------------------------------------


@register("embed_norm_stats", oracle=_SQL_EMBED_NORM_STATS)
def q_embed_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm statistics over the embeddings table — the
    sanity report before cosine ANN (un-normalized vectors silently
    break inner-product shortcuts).  Norms are pure column expressions
    (zip_with/aggregate fold, JVM-side); per-norm rounding to 6 decimals
    happens BEFORE the cross-row avg so both engines aggregate identical
    doubles."""
    cat = Catalog(spark, sf_dir)
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    norm = F.sqrt(
        F.aggregate(
            F.zip_with(e, e, lambda a, b: a * b),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        )
    )
    return (
        cat["embeddings"]
        .select("label", F.round(norm, 6).alias("norm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("norm"), 4).alias("avg_norm"),
            F.round(F.min("norm"), 4).alias("min_norm"),
            F.round(F.max("norm"), 4).alias("max_norm"),
        )
    )


_SQL_ER_FUZZY_JOIN = """
WITH corrupted AS (
  SELECT p_partkey AS dirty_key,
         substr(p_name, 1, 1) || substr(p_name, 3) AS dirty_name,
         regexp_extract(p_name, '[^ ]+$', 0) AS block
  FROM part WHERE p_partkey % 7 = 0),
clean AS (
  SELECT p_partkey AS cand_key, p_name AS cand_name,
         regexp_extract(p_name, '[^ ]+$', 0) AS block
  FROM part),
cands AS (
  SELECT dirty_key, dirty_name, cand_key, cand_name,
         levenshtein(dirty_name, cand_name) AS lev
  FROM corrupted JOIN clean USING (block)
  WHERE levenshtein(dirty_name, cand_name) <= 2)
SELECT dirty_key, dirty_name, cand_key, cand_name, CAST(lev AS BIGINT) AS lev
FROM (SELECT *, row_number() OVER (PARTITION BY dirty_key ORDER BY lev, cand_key) AS rn
      FROM cands)
WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Entity resolution: blocked fuzzy join (levenshtein within block)
# ---------------------------------------------------------------------------


@register("er_fuzzy_join", oracle=_SQL_ER_FUZZY_JOIN)
def q_er_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution join: a deterministically corrupted subset of
    part names (second character deleted, keys ≡ 0 mod 7) is matched
    back to the clean catalog by BLOCKING on the corruption-invariant
    last word, then exact levenshtein ≤ 2 within the block, best match
    = min (distance, partkey) via one window.

    Scale shape: DICTIONARY REDUCTION before the expensive part — both
    sides collapse to their distinct name domains first (the match
    depends only on the name), levenshtein runs on
    |distinct-dirty|×|distinct-clean-in-block| pairs, and the per-name
    verdict joins back onto the full key stream as a broadcast.  The
    blocked equi-join already bounds pairs below all-pairs |A|×|B|;
    the dictionary cut removes the row-multiplicity factor on top
    (measured 6.3 s → sub-second at sf0.1: 20k part rows share only
    64 distinct names).  At 100 TB: same two moves — block, then
    dedupe the join domains."""
    cat = Catalog(spark, sf_dir)
    parts = cat["part"]
    block = F.regexp_extract(F.col("p_name"), "[^ ]+$", 0)
    dirty_rows = parts.where(F.col("p_partkey") % 7 == 0).select(
        F.col("p_partkey").alias("dirty_key"),
        F.concat(
            F.substring("p_name", 1, 1), F.expr("substring(p_name, 3)")
        ).alias("dirty_name"),
        block.alias("block"),
    )
    dirty_names = dirty_rows.select("dirty_name", "block").distinct()
    # per distinct clean name keep the minimum key: the (lev, cand_key)
    # tie-break only ever selects a name's smallest key, so this is an
    # exact reduction, not an approximation
    clean_names = parts.groupBy(
        F.col("p_name").alias("cand_name"), block.alias("block")
    ).agg(F.min("p_partkey").alias("cand_key"))
    lev = F.levenshtein("dirty_name", "cand_name")
    cands = (
        dirty_names.join(clean_names, "block")
        .where(lev <= 2)
        .select(
            "dirty_name", "block", "cand_key", "cand_name",
            lev.cast("long").alias("lev"),
        )
    )
    # best match is resolved per (dirty_name, block), and the join back
    # carries block too: if one corrupted name ever arose from originals
    # with different blocking keys, each block keeps its own winner —
    # matching the oracle's per-dirty_key-within-block semantics
    w = Window.partitionBy("dirty_name", "block").orderBy("lev", "cand_key")
    best = (
        cands.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    return dirty_rows.join(F.broadcast(best), ["dirty_name", "block"]).select(
        "dirty_key", "dirty_name", "cand_key", "cand_name", "lev"
    )


# ---------------------------------------------------------------------------
# PCA projection of the embedding table
# ---------------------------------------------------------------------------


@register("embed_pca_project")
def q_embed_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 PCA projection of the embeddings (distributed partial
    covariance fit + literal-basis codegen projection — see
    operators.similarity.pca_fit_project).  Rows-only gate: no SQL
    engine exposes an eigensolver; numpy parity is unit-tested in
    tests/test_operators.py."""
    cat = Catalog(spark, sf_dir)
    return similarity.pca_fit_project(cat["embeddings"], n_components=2)


# ---------------------------------------------------------------------------
# Literal-fixture oracle twins for the rows-only operators
# ---------------------------------------------------------------------------
#
# graph_pagerank and dedup_semdedup are iterative / kmeans-seeded and not
# SQL-expressible on the real tables, so their sf-data entries are graded
# rows-only.  These twins run the SAME operator code on a small literal
# fixture whose expected output is derived INDEPENDENTLY (numpy power
# iteration / brute-force cosine mirror — the derivations live in
# tests/test_operators.py and tools/fixture_expectations.py) and graded
# through the full driver hash gate via a literal-VALUES oracle.  The
# scale-shaped implementations stay untouched; this closes the
# correctness gap without weakening their 100 TB design.

_PR_EDGES = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 0), (3, 2), (2, 4)]
# numpy power iteration, 12 iterations, damping 0.85, dangling node 4
# redistributed; agreement with the operator is 1e-12, rounding margin
# at 8 dp is >3e-9 (tools/fixture_expectations.py)
_PR_EXPECT = [
    (0, 0.23346052), (1, 0.16421609), (2, 0.33149840),
    (3, 0.06499540), (4, 0.20582959),
]


_SQL_PAGERANK_FIXTURE = "SELECT * FROM (VALUES {vals}) AS t(node, rank)".format(
    vals=", ".join(
        f"(CAST({n} AS BIGINT), CAST({r!r} AS DOUBLE))" for n, r in _PR_EXPECT
    )
)


@register("graph_pagerank_fixture", oracle=_SQL_PAGERANK_FIXTURE)
def q_graph_pagerank_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank on a fixed 5-node graph (hub, chain, dangling node) —
    the hash-graded twin of the rows-only ``graph_pagerank`` entry.
    Exercises the identical driver-loop operator (dangling-mass
    redistribution, batched checkpoints); the oracle is the
    numpy-derived closed power iteration, so any drift in the iteration
    math, damping, or mass accounting breaks the hash."""
    from rdbms_subsetter_spark.operators import graph

    edges = spark.createDataFrame(_PR_EDGES, "src long, dst long")
    ranks = graph.pagerank(edges, iterations=12, damping=0.85)
    return ranks.select("node", F.round("rank", 8).alias("rank"))


# expected 2-NN per query from the brute-force float32-unit left-fold
# mirror (tools/fixture_expectations.py::ivf_expect); with
# n_probe == n_clusters IVF probes every cell, so the approximate
# operator is provably exact on this fixture and a brute-force oracle
# is valid.  Worst 6-dp rounding-boundary margin 1.9e-8 vs bit-identical
# IEEE left folds on both sides.
_IVF_EXPECT = [
    (0, 1, 1.0, 1), (0, 2, 0.999999, 2),
    (4, 5, 1.0, 1), (4, 7, 0.930535, 2),
    (8, 11, 0.995417, 1), (8, 10, 0.977957, 2),
]


_SQL_IVF_FIXTURE = (
    "SELECT * FROM (VALUES {vals}) AS t(query_id, neighbor_id, cosine, rank)"
).format(
    vals=", ".join(
        f"(CAST({q} AS BIGINT), CAST({n} AS BIGINT), CAST({c!r} AS DOUBLE), CAST({r} AS INT))"
        for q, n, c, r in _IVF_EXPECT
    )
)


@register("ann_ivf_fixture", oracle=_SQL_IVF_FIXTURE)
def q_ann_ivf_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k on the fixed 12-vector corpus with exhaustive probing
    (n_probe = n_clusters) — the hash-graded twin of the rows-only
    ``ann_ivf_topk`` entry.  Exercises the full operator (driver k-means
    fit, Arrow-batched unit-vector cell assignment, broadcast probe
    join, window top-k); exhaustive probes make it provably exact, so
    the oracle is independent brute-force cosine."""
    emb = spark.createDataFrame(_SD_VECS, "vec_id long, embedding array<float>")
    queries = emb.where(F.col("vec_id").isin(0, 4, 8))
    return similarity.ivf_topk(
        emb, queries, k=2, n_clusters=3, n_probe=3, seed=42
    )


# Expected SRP top-2 from the end-to-end signature mirror
# (tools/fixture_expectations.py::srp_expect): md5 plane stream, sign
# bits, same-bucket candidates, left-fold cosine.  On this fixture every
# query shares its 3-bit bucket with its true 2-NN (the direction
# clusters land in distinct buckets), so the approximate operator is
# provably exact here and the brute-force-equal expectation is valid.
_SRP_EXPECT = [
    (0, 1, 1.0, 1), (0, 2, 0.999999, 2),
    (4, 5, 1.0, 1), (4, 7, 0.930535, 2),
    (8, 11, 0.995417, 1), (8, 10, 0.977957, 2),
]


_SQL_SRP_FIXTURE = (
    "SELECT * FROM (VALUES {vals}) AS t(query_id, neighbor_id, cosine, rank)"
).format(
    vals=", ".join(
        f"(CAST({q} AS BIGINT), CAST({n} AS BIGINT), CAST({c!r} AS DOUBLE), CAST({r} AS INT))"
        for q, n, c, r in _SRP_EXPECT
    )
)


@register("ann_srp_fixture", oracle=_SQL_SRP_FIXTURE)
def q_ann_srp_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-bucketed top-k on the fixed 12-vector corpus — the
    hash-graded twin of the rows-only ``ann_srp_bucketed`` entry.
    Exercises the identical operator (seeded md5 hyperplanes folded
    into the plan as literals, sign-bit signature, one equi-join on the
    bucket id, window top-k on the rounded cosine); the oracle is the
    independent Python mirror of the whole pipeline
    (tools/fixture_expectations.py::srp_expect)."""
    emb = spark.createDataFrame(_SD_VECS, "vec_id long, embedding array<float>")
    queries = emb.where(F.col("vec_id").isin(0, 4, 8))
    return similarity.srp_topk(emb, queries, dim=4, k=2, n_planes=3, seed=42)


# Expected top-2 PCA from the step-for-step numpy mirror
# (tools/fixture_expectations.py::pca_expect): float32 ingest, partial
# (n, Σx, ΣxᵀX), covariance, eigh, deterministic sign rule, left-fold
# projection — bit-identical IEEE sequences to the operator.
_PCA_EXPECT = [
    (0, 0, -4.0433, 0.513844, -7.3092, 0.47257),
    (1, 1, -4.0846, 0.513844, -7.375, 0.47257),
    (2, 2, -4.0064, 0.513844, -7.236, 0.47257),
    (3, 0, -4.4865, 0.513844, -3.8971, 0.47257),
    (4, 1, -4.8039, 0.513844, 8.0737, 0.47257),
    (5, 2, -4.8462, 0.513844, 8.1488, 0.47257),
    (6, 0, -0.5114, 0.513844, 6.1004, 0.47257),
    (7, 1, -4.8813, 0.513844, 3.9317, 0.47257),
    (8, 2, 8.9072, 0.513844, -0.1752, 0.47257),
    (9, 0, 8.1435, 0.513844, -0.4561, 0.47257),
    (10, 1, 6.4825, 0.513844, 1.1325, 0.47257),
    (11, 2, 8.1304, 0.513844, -0.9385, 0.47257),
]


_SQL_PCA_FIXTURE = (
    "SELECT * FROM (VALUES {vals}) AS t(vec_id, label, pc1, evr1, pc2, evr2)"
).format(
    vals=", ".join(
        f"(CAST({vid} AS BIGINT), CAST({lb} AS INT), CAST({p1!r} AS DOUBLE), "
        f"CAST({e1!r} AS DOUBLE), CAST({p2!r} AS DOUBLE), CAST({e2!r} AS DOUBLE))"
        for vid, lb, p1, e1, p2, e2 in _PCA_EXPECT
    )
)


@register("embed_pca_fixture", oracle=_SQL_PCA_FIXTURE)
def q_embed_pca_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 PCA of the fixed 12-vector corpus — the hash-graded twin of
    the rows-only ``embed_pca_project`` entry.  Runs the identical
    operator (mapInPandas partial covariance, driver eigh with the
    deterministic sign rule, literal-basis codegen projection) on a
    single partition so the partial-sum order is fixed; the oracle is
    the independent numpy mirror (tools/fixture_expectations.py)."""
    # ONE slice from the start (fixed partial-sum order for the float
    # fold).  NOT .coalesce(1): a coalesced python-list DataFrame makes
    # a single task drain all 32 pickled parent slices through Python
    # workers serially (~4 s for 12 rows); numSlices=1 is ~0.5 s.
    rdd = spark.sparkContext.parallelize(
        [(i, v, i % 3) for i, v in _SD_VECS], numSlices=1
    )
    emb = spark.createDataFrame(
        rdd, "vec_id long, embedding array<float>, label int"
    )
    return similarity.pca_fit_project(emb, n_components=2)


_SQL_KNN_DEGREE = """
WITH pairs AS (
  SELECT a.vec_id AS qid, b.vec_id AS nid,
         round(list_dot_product(a.embedding, b.embedding)
               / (sqrt(list_dot_product(a.embedding, a.embedding))
                  * sqrt(list_dot_product(b.embedding, b.embedding))), 6) AS cos
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
knn AS (
  SELECT qid, nid FROM (
    SELECT qid, nid, row_number() OVER (PARTITION BY qid
                                        ORDER BY cos DESC, nid) AS rk
    FROM pairs)
  WHERE rk <= 3),
indeg AS (SELECT nid, count(*) AS in_degree FROM knn GROUP BY nid)
SELECT in_degree, count(*) AS n_vectors FROM (
  SELECT coalesce(i.in_degree, 0) AS in_degree
  FROM embeddings e LEFT JOIN indeg i ON e.vec_id = i.nid)
GROUP BY in_degree
"""


@register("knn_graph_degree", oracle=_SQL_KNN_DEGREE)
def q_knn_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-degree distribution of the exact cosine 3-NN graph over the
    embedding corpus — the connectivity audit run before graph-based
    semantic clustering (hub vectors = high in-degree).

    Uses the bounded-broadcast ``cosine_topk`` kernel (every vector is a
    query; the corpus scan emits only local top-k per query, shuffle ∝
    queries × k).  At 100 TB the same audit runs over ``srp_topk``'s
    LSH-bucketed graph instead — the exact kernel here is the recall
    baseline.  Zero-in-degree vectors are kept via a left join against
    the vector set."""
    cat = Catalog(spark, sf_dir)
    emb = cat["embeddings"]
    knn = similarity.cosine_topk(emb, emb, k=3, round_to=6)
    indeg = knn.groupBy(F.col("neighbor_id").alias("vec_id")).agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    return (
        emb.select("vec_id")
        .join(indeg, "vec_id", "left")
        .select(F.coalesce("in_degree", F.lit(0)).alias("in_degree"))
        .groupBy("in_degree")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: BM25 ⊕ vector ranks fused with RRF
# ---------------------------------------------------------------------------

_RRF_K = 60
_HY_TERMS = ["spark", "query", "window"]


_SQL_HYBRID_RRF = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), dl AS (SELECT doc_id, count(*) AS dlen FROM toks GROUP BY 1),
stats AS (SELECT count(*) AS n_docs, avg(dlen) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
       WHERE term IN ('spark', 'query', 'window') GROUP BY 1, 2),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks
       WHERE term IN ('spark', 'query', 'window') GROUP BY 1),
bm25 AS (
  SELECT doc_id,
         round(sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                   * tf * 2.2
                   / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dlen / avgdl))), 4) AS bm25
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
  GROUP BY doc_id),
lex AS (SELECT doc_id, lex_rank FROM (
          SELECT doc_id,
                 row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
          FROM bm25) WHERE lex_rank <= 100),
qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
sem AS (
  SELECT doc_id, sem_rank FROM (
    SELECT vec_id AS doc_id,
           row_number() OVER (
             ORDER BY round(list_dot_product(embedding, (SELECT q FROM qv))
                      / (sqrt(list_dot_product(embedding, embedding))
                         * sqrt(list_dot_product((SELECT q FROM qv), (SELECT q FROM qv)))), 6)
             DESC, vec_id) AS sem_rank
    FROM embeddings) WHERE sem_rank <= 100),
fused AS (
  SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
         round(coalesce(1.0 / (60 + lex_rank), 0.0)
               + coalesce(1.0 / (60 + sem_rank), 0.0), 6) AS rrf,
         lex_rank, sem_rank
  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id)
SELECT doc_id, rrf, lex_rank, sem_rank
FROM fused ORDER BY rrf DESC, doc_id LIMIT 20
"""


@register("hybrid_search_rrf", oracle=_SQL_HYBRID_RRF)
def q_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval — THE modern RAG pattern: a lexical ranking
    (BM25 over fixed query terms) and a semantic ranking (cosine to a
    fixed query vector, here doc 0's embedding) fused with Reciprocal
    Rank Fusion: score = Σ 1/(k + rank), k=60.  Ranks are taken on
    engine-rounded scores with id tiebreaks so both engines agree on
    every rank, making the fusion hash-exact.

    Scale shape: each ranking is the already-graded machinery (BM25 =
    map-side tf/dl + broadcast df; cosine = one scan against a 1-row
    broadcast query vector); each list is cut to its top-100 with
    orderBy().limit() — TakeOrderedAndProject, a distributed partial
    top-k, NEVER a global single-task rank window over the corpus —
    and rank assignment then runs on the bounded 100-row frames.
    Fusion is a full-outer join of two thin (id, rank) relations.
    Docs outside both top-100s contribute 0, the standard production
    RRF cut."""
    from rdbms_subsetter_spark.operators.similarity import dot, norm

    cat = Catalog(spark, sf_dir)
    # --- lexical: BM25 ranks ---
    toks = cat["documents"].select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dlen"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"), F.avg("dlen").alias("avgdl"))
    qtoks = toks.filter(F.col("term").isin(_HY_TERMS))
    tf = qtoks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = qtoks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    score = idf * (
        F.col("tf") * 2.2
        / (F.col("tf") + 1.2 * (1.0 - 0.75 + 0.75 * F.col("dlen") / F.col("avgdl")))
    )
    bm25 = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(score), 4).alias("bm25"))
    )
    w_lex = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    lex_rank = (
        bm25.orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(100)  # TakeOrderedAndProject: bounded before any window
        .select("doc_id", "bm25", F.row_number().over(w_lex).alias("lex_rank"))
        .drop("bm25")
    )

    # --- semantic: cosine ranks against doc 0's embedding ---
    emb = cat["embeddings"]
    qvec = F.broadcast(
        emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    )
    cos = F.round(
        dot(F.col("embedding"), F.col("q_emb"))
        / (norm(F.col("embedding")) * norm(F.col("q_emb"))),
        6,
    )
    scored = emb.crossJoin(qvec).select(
        F.col("vec_id").alias("doc_id"), cos.alias("cos")
    )
    w_sem = Window.orderBy(F.desc("cos"), F.asc("doc_id"))
    sem_rank = (
        scored.orderBy(F.desc("cos"), F.asc("doc_id"))
        .limit(100)
        .select("doc_id", "cos", F.row_number().over(w_sem).alias("sem_rank"))
        .drop("cos")
    )

    # --- fusion ---
    fused = (
        lex_rank.join(sem_rank, "doc_id", "full_outer")
        .select(
            "doc_id",
            (
                F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("lex_rank")), F.lit(0.0))
                + F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("sem_rank")), F.lit(0.0))
            ).alias("rrf_raw"),
            "lex_rank",
            "sem_rank",
        )
        .select(
            "doc_id",
            F.round("rrf_raw", 6).alias("rrf"),
            "lex_rank",
            "sem_rank",
        )
    )
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(20)


# ---------------------------------------------------------------------------
# Int8-quantization recall audit
# ---------------------------------------------------------------------------


def _dequantized(emb: DataFrame) -> DataFrame:
    """The int8 round-trip a vector store actually serves from:
    x̂ᵢ = mn + round((xᵢ − mn)/scale)·scale with scale = (mx − mn)/255
    (same per-vector affine scheme as ``operators.similarity
    .quantize_int8``, applied at full precision so the oracle can
    reproduce it bit-exactly).  Staged projections compute the cast
    array and min/max once each — codegen does not CSE higher-order
    lambdas."""
    dm = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    s = emb.select("vec_id", dm.alias("__dm")).select(
        "vec_id",
        "__dm",
        F.array_min("__dm").alias("__mn"),
        F.array_max("__dm").alias("__mx"),
    )
    mn, mx = F.col("__mn"), F.col("__mx")
    scale = (mx - mn) / F.lit(255.0)
    return s.select(
        "vec_id",
        F.when(mx == mn, F.transform("__dm", lambda x: mn))
        .otherwise(
            F.transform("__dm", lambda x: mn + F.round((x - mn) / scale) * scale)
        )
        .alias("embedding"),
    )


#: embed_quant_recall's audited-sample id window: one constant,
#: interpolated into BOTH the operator filter and the DuckDB oracle
#: (ADVICE r08 — as independent literals, a drift between the two
#: would pass every graded SF silently, since the cap is inert below
#: vec_id 10^6, and only diverge at stress scale).
QUANT_RECALL_ID_CAP = 1_000_000


_SQL_QUANT_RECALL = f"""
WITH m AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         list_min(CAST(embedding AS DOUBLE[])) AS mn,
         list_max(CAST(embedding AS DOUBLE[])) AS mx
  FROM embeddings),
dq AS (
  SELECT vec_id,
         CASE WHEN mx = mn THEN list_transform(e, x -> mn)
              ELSE list_transform(e, x -> mn + round((x - mn) / ((mx - mn) / 255.0))
                                              * ((mx - mn) / 255.0))
         END AS e
  FROM m),
fknn AS (
  SELECT qid, nid FROM (
    SELECT a.vec_id AS qid, b.vec_id AS nid,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY round(list_dot_product(a.e, b.e)
                            / (sqrt(list_dot_product(a.e, a.e))
                               * sqrt(list_dot_product(b.e, b.e))), 6) DESC,
                      b.vec_id) AS rk
    FROM m a JOIN m b ON a.vec_id <> b.vec_id
    WHERE a.vec_id % 10 = 0 AND a.vec_id < {QUANT_RECALL_ID_CAP})
  WHERE rk <= 10),
iknn AS (
  SELECT qid, nid FROM (
    SELECT a.vec_id AS qid, b.vec_id AS nid,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY round(list_dot_product(a.e, b.e)
                            / (sqrt(list_dot_product(a.e, a.e))
                               * sqrt(list_dot_product(b.e, b.e))), 6) DESC,
                      b.vec_id) AS rk
    FROM dq a JOIN dq b ON a.vec_id <> b.vec_id
    WHERE a.vec_id % 10 = 0 AND a.vec_id < {QUANT_RECALL_ID_CAP})
  WHERE rk <= 10)
SELECT f.qid AS query_id,
       CAST(sum(CASE WHEN i.nid IS NOT NULL THEN 1 ELSE 0 END) AS INT) AS n_overlap,
       sum(CASE WHEN i.nid IS NOT NULL THEN 1 ELSE 0 END) >= 7 AS recall_ok
FROM fknn f LEFT JOIN iknn i ON f.qid = i.qid AND f.nid = i.nid
GROUP BY f.qid
"""


@register("embed_quant_recall", oracle=_SQL_QUANT_RECALL)
def q_embed_quant_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantization recall audit: does int8 storage actually preserve
    retrieval?  For each query vector the float32 exact cosine top-10
    is compared with the top-10 computed over the int8-dequantized
    corpus; the audit emits the per-query overlap and a boolean
    ``recall_ok = overlap ≥ 7`` that the oracle asserts — turning
    ``embed_quantize_int8`` from "runs" into "provably still finds the
    same neighbors" (measured overlap ≥ 9/10 on every SF; the 7/10 gate
    catches any real quantization regression, which craters overlap).

    Both paths ride the bounded-broadcast ``cosine_topk`` kernel
    (query side guarded, corpus scan emits local top-k only); ranking
    is on the 6-decimal-rounded cosine with neighbor-id tiebreak, so
    the DuckDB oracle reproduces both top-k sets exactly.

    The audited query set is a FIXED-SIZE deterministic sample
    (``vec_id % 10 == 0 AND vec_id < 10^6``), not a corpus fraction:
    recall is a statistic, and a sample that grew with the corpus
    would make the audit O(n²) — the ×64 embeddings rung measured the
    unbounded form at 388 s (260×) vs linear with the cap (SCALE.md
    round 8).  The id window is inert at every graded SF (max vec_id
    4,999), so gate outputs are bit-identical; at stress/production
    scales only the capped sample is audited, exactly as a 100 TB
    recall audit would sample."""
    cat = Catalog(spark, sf_dir)
    emb = cat["embeddings"]
    dq = _dequantized(emb)
    sample = (F.col("vec_id") % 10 == 0) & (F.col("vec_id") < QUANT_RECALL_ID_CAP)
    fq = emb.filter(sample)
    iq = dq.filter(sample)
    fk = similarity.cosine_topk(emb, fq, k=10).select("query_id", "neighbor_id")
    ik = similarity.cosine_topk(dq, iq, k=10).select(
        F.col("query_id").alias("__q"), F.col("neighbor_id").alias("__n")
    )
    return (
        fk.join(
            ik,
            (fk["query_id"] == ik["__q"]) & (fk["neighbor_id"] == ik["__n"]),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.sum(F.when(F.col("__n").isNotNull(), 1).otherwise(0))
            .cast("int")
            .alias("n_overlap")
        )
        .select(
            "query_id",
            "n_overlap",
            (F.col("n_overlap") >= 7).alias("recall_ok"),
        )
    )


#: Audited-floor constants — interpolated into docstrings/oracles so a
#: drift between operator and contract is impossible by construction.
#: Each floor sits between measured recall and the broken-path baseline
#: (uninformative buckets/cells at the same scan volume):
#: SRP (4 bands × 5 planes) measured .296/.304/.303 at sf0.001/.01/.1
#: vs random buckets ≈ 1-(31/32)^4 ≈ .12; IVF (auto √n cells,
#: n_probe=6) measured .68/.676/.516 vs random cells ≤ .27.
SRP_RECALL_FLOOR = 0.20
IVF_RECALL_FLOOR = 0.40
#: Banded-SRP audit point: 4 independent signatures of 5 planes each.
SRP_AUDIT_BANDS = 4
SRP_AUDIT_PLANES = 5
#: IVF audit point: auto (√n) cells, 6 probed per query.
IVF_AUDIT_PROBE = 6


def _audit_sample(emb: DataFrame) -> DataFrame:
    return emb.filter(
        (F.col("vec_id") % 10 == 0) & (F.col("vec_id") < QUANT_RECALL_ID_CAP)
    )


def _recall_audit(emb: DataFrame, ann: DataFrame, queries: DataFrame, floor: float, k: int) -> DataFrame:
    """One-row audit: exact-side counts + a recall-floor boolean.

    ``recall`` here is micro-averaged over exact top-k pairs:
    |ANN ∩ exact| / |exact|.  Both sides rank by the same 6-decimal
    rounded cosine with neighbor-id tiebreak, so the exact set is the
    same one the DuckDB oracle computes and the overlap is a
    deterministic fact of the input, not a random variable."""
    exact = similarity.cosine_topk(emb, queries, k=k).select("query_id", "neighbor_id")
    a = ann.select(F.col("query_id").alias("__q"), F.col("neighbor_id").alias("__n"))
    # ONE aggregate produces all three outputs (a separate count-of-
    # queries branch would need a single-row combine, which Catalyst
    # plans as the BNLJ the battery-wide plan gate forbids):
    # n_queries = distinct query ids in the exact top-k, identical to
    # the audit-sample count whenever every query has ≥1 neighbor
    # (guaranteed for any corpus with ≥2 vectors) — the same quantity
    # the oracle counts from its knn CTE.
    return (
        exact.join(
            a,
            (exact["query_id"] == a["__q"]) & (exact["neighbor_id"] == a["__n"]),
            "left",
        )
        .agg(
            F.countDistinct("query_id").alias("__nq"),
            F.count(F.lit(1)).alias("__pairs"),
            F.sum(F.when(F.col("__n").isNotNull(), 1).otherwise(0)).alias("__hits"),
        )
        .select(
            F.col("__nq").cast("long").alias("n_queries"),
            F.col("__pairs").cast("long").alias("n_exact_pairs"),
            # coalesce: a degenerate corpus (no audit queries, or <2
            # vectors) makes __pairs = 0 and the ratio NULL; a NULL
            # here would mismatch the oracle's literal TRUE with an
            # opaque hash diff instead of a deterministic FALSE
            # (ADVICE r09)
            F.coalesce(
                F.col("__hits") / F.col("__pairs") >= F.lit(floor), F.lit(False)
            ).alias("recall_ok"),
        )
    )


# The oracle computes the exact side only (count of audit queries and
# of exact top-5 pairs — both deterministic facts of the data) and
# asserts the recall boolean TRUE, per the sketch-error-bounds pattern.
_SQL_ANN_RECALL = f"""
WITH m AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
knn AS (
  SELECT qid, nid FROM (
    SELECT a.vec_id AS qid, b.vec_id AS nid,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY round(list_dot_product(a.e, b.e)
                            / (sqrt(list_dot_product(a.e, a.e))
                               * sqrt(list_dot_product(b.e, b.e))), 6) DESC,
                      b.vec_id) AS rk
    FROM m a JOIN m b ON a.vec_id <> b.vec_id
    WHERE a.vec_id % 10 = 0 AND a.vec_id < {QUANT_RECALL_ID_CAP})
  WHERE rk <= 5)
SELECT CAST(count(DISTINCT qid) AS BIGINT) AS n_queries,
       CAST(count(*) AS BIGINT) AS n_exact_pairs,
       TRUE AS recall_ok
FROM knn
"""


@register("ann_srp_recall", oracle=_SQL_ANN_RECALL)
def q_ann_srp_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale recall contract for the SRP/LSH ANN path: banded
    signed-random-projection top-5 (4 bands × 5 planes — recall
    compounds 1-(1-r)⁴ across bands while candidates stay linear in
    bands) must recover ≥20% of the exact cosine top-5 pairs over the
    fixed audit query sample.  A regressed signature/bucketing path
    that scans the same volume with uninformative buckets scores ≈12%
    and breaks the hash; a broken scoring expression craters to ~0.

    The plane stream is the same seeded-md5 scheme the rows-only
    ``ann_srp_bucketed`` entry uses (``similarity.srp_signature``), so
    this IS that operator's quality gate at corpus SF."""
    cat = Catalog(spark, sf_dir)
    emb = cat["embeddings"]
    q = _audit_sample(emb)
    ann = similarity.srp_topk(
        emb, q, dim=64, k=5, n_planes=SRP_AUDIT_PLANES, n_bands=SRP_AUDIT_BANDS
    )
    return _recall_audit(emb, ann, q, SRP_RECALL_FLOOR, k=5)


@register("ann_ivf_recall", oracle=_SQL_ANN_RECALL)
def q_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale recall contract for the IVF ANN path: k-means cells
    (auto √n) probing the 6 nearest cells per query must recover ≥40%
    of the exact cosine top-5 pairs over the fixed audit query sample.
    Random (uninformative) cells at the same probe volume score
    ≤ n_probe/n_cells ≈ 13–27% on the graded corpora and break the
    hash; so does a broken centroid fit or probe ranking."""
    cat = Catalog(spark, sf_dir)
    emb = cat["embeddings"]
    q = _audit_sample(emb)
    ann = similarity.ivf_topk(emb, q, k=5, n_clusters="auto", n_probe=IVF_AUDIT_PROBE)
    return _recall_audit(emb, ann, q, IVF_RECALL_FLOOR, k=5)


_SQL_KNN_BLOCKED = """
WITH pairs AS (
  SELECT a.vec_id AS qid, b.vec_id AS nid,
         round(list_dot_product(a.embedding, b.embedding)
               / (sqrt(list_dot_product(a.embedding, a.embedding))
                  * sqrt(list_dot_product(b.embedding, b.embedding))), 6) AS cos
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
knn AS (
  SELECT qid, nid FROM (
    SELECT qid, nid, row_number() OVER (PARTITION BY qid
                                        ORDER BY cos DESC, nid) AS rk
    FROM pairs)
  WHERE rk <= 3),
indeg AS (SELECT nid, count(*) AS in_degree FROM knn GROUP BY nid)
SELECT in_degree, count(*) AS n_vectors FROM (
  SELECT coalesce(i.in_degree, 0) AS in_degree
  FROM embeddings e LEFT JOIN indeg i ON e.vec_id = i.nid)
GROUP BY in_degree
"""


@register("knn_graph_blocked", oracle=_SQL_KNN_BLOCKED)
def q_knn_graph_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-degree distribution of the exact cosine 3-NN graph, computed
    by the block-broadcast kernel (``similarity.cosine_topk_blocked``):
    corpus × corpus in B×B block pairs over an equi-joined grid — no
    driver collect anywhere, so unlike ``knn_graph_degree`` (bounded-
    broadcast kernel) this path has no 200k corpus ceiling.  Block
    sizing is ``max(128, ceil(n/32))``: the 128 floor forces a real
    multi-block grid at every graded SF (500 vectors → 4 blocks / 16
    grid tasks; 2000 → 16 blocks / 256), while the n/32 term caps the
    grid at ~1024 tasks as the corpus grows (the ×64 rung's 128k
    vectors get 4k-vector blocks, ~130 MB of score matrix per task).
    Block size never changes the RESULT — exactness is property-
    asserted for single- and multi-block shapes.  Output and oracle
    are identical to knn_graph_degree: both kernels rank by the same
    rounded cosine + id tiebreak, so the graded pair pins them to the
    same exact answer."""
    import math

    cat = Catalog(spark, sf_dir)
    emb = cat["embeddings"]
    bs = max(128, math.ceil(emb.count() / 32))
    knn = similarity.cosine_topk_blocked(emb, k=3, block_size=bs)
    indeg = knn.groupBy(F.col("neighbor_id").alias("vec_id")).agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    return (
        emb.select("vec_id")
        .join(indeg, "vec_id", "left")
        .select(F.coalesce("in_degree", F.lit(0)).alias("in_degree"))
        .groupBy("in_degree")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )
