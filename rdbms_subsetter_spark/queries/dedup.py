"""Near-duplicate detection and decontamination over ``documents``:
exact and normalized hashing, n-gram Jaccard, MinHash-LSH, SimHash,
connected-component clusters and keep sets, substring, paragraph and
containment dedup, SemDeDup, and train-vs-eval decontamination.

Owns the shingle helpers (``_shingle_cte``, ``NGRAM_MAX_DOC_FREQ``) and
the fixed 12-vector fixture corpus (``_SD_VECS``) that the similarity
fixtures share.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from rdbms_subsetter_spark.catalog import Catalog
from rdbms_subsetter_spark.operators import dedup, similarity, text
from rdbms_subsetter_spark.queries import register
from rdbms_subsetter_spark.queries.text import _NORM, _RAW_TOKS, _TOKS


@register("dedup_exact", oracle=f"""
SELECT md5({_NORM}) AS fp, min(doc_id) AS keeper_doc_id, count(*) AS group_size
FROM documents GROUP BY 1
""")
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    return dedup.exact_dedup_groups(cat["documents"])


#: Graded hot-shingle cap for the n-gram dedup family (round 7): a
#: shingle appearing in more than this many docs is dropped from both
#: the inverted index AND the size denominators, in Spark and the
#: DuckDB oracle alike.  With an absolute cap the candidate volume is
#: Σ_shingle min(df, cap)² ≤ cap · Σ df = cap · (total shingle rows) —
#: LINEAR in corpus size, vs the uncapped Σ df² that the ×8 scale
#: stress measured at 16.4× (boilerplate shingles fan quadratically).
#: cap=16 keeps semantics essentially intact on the test corpora
#: (255/256 pairs at sf0.1 survive; nothing fires at sf0.01's max
#: df=7) while smaller caps measurably DISTORT Jaccard (cap=4 at
#: sf0.1: 750 "pairs" at θ=0.8, mostly denominators collapsing).
NGRAM_MAX_DOC_FREQ = 16


def _shingle_cte(n: int = 3) -> str:
    parts = ", ".join(f"t[i + {j}]" for j in range(n))
    return f"""
toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(t) - {n - 1}, 0)),
                               i -> concat_ws(' ', {parts}))) AS shingle
  FROM toks)
"""


def _capped_shingle_cte(cap: int) -> str:
    """Append to ``_shingle_cte``: the hot-shingle df cap (mirror of
    ``dedup.ngram_jaccard_pairs(max_doc_freq=cap)``) — shingles in more
    than ``cap`` docs are dropped from the inverted index AND the size
    denominators, identically in both engines (df is exact in each)."""
    return f"""
shc AS (
  SELECT s.doc_id, s.shingle FROM sh s
  JOIN (SELECT shingle FROM sh GROUP BY shingle
        HAVING count(*) <= {cap}) keep USING (shingle))
"""


@register("dedup_ngram_jaccard", oracle=f"""
WITH {_shingle_cte(3)},
{_capped_shingle_cte(NGRAM_MAX_DOC_FREQ)},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shc GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS shared
  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_id_1, doc_id_2,
       round(shared * 1.0 / (n1.n_sh + n2.n_sh - shared), 6) AS jaccard
FROM shared
JOIN sizes n1 ON doc_id_1 = n1.doc_id
JOIN sizes n2 ON doc_id_2 = n2.doc_id
WHERE shared * 1.0 / (n1.n_sh + n2.n_sh - shared) >= 0.8
""")
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped configuration (production form): hot shingles with
    df > NGRAM_MAX_DOC_FREQ are excluded before the self-join; the
    exact uncapped semantics remain available as ``max_doc_freq=None``
    (fuzz-covered; the grading-continuity twin was retired in round 8
    once this capped entry held its own green verdict)."""
    cat = Catalog(spark, sf_dir)
    return dedup.ngram_jaccard_pairs(
        cat["documents"], n=3, threshold=0.8, max_doc_freq=NGRAM_MAX_DOC_FREQ
    )


def _minhash_oracle(
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    cross_corpus_mod: int | None = None,
) -> str:
    """``cross_corpus_mod=m`` switches the candidate join from the
    self-pair form (doc_id_1 < doc_id_2) to the train-vs-eval split
    (train = doc_id % m != 0 joined against eval = doc_id % m == 0,
    output columns train_doc_id/eval_doc_id) — the oracle twin of
    ``dedup.minhash_cross_corpus_pairs``."""
    r = num_hashes // bands
    # mirror of dedup.minhash_signatures: k INDEPENDENT salted md5s
    # (h_i = int(md5(f"{i}|{s}")[:15], 16), the _portable_hash scheme) —
    # never the correlated double-hashed derivation, see the operator
    # docstring for the two measured failures it caused
    hash_cols = ", ".join(
        f"min(CAST(('0x' || substr(md5('{i}|' || shingle), 1, 15)) AS BIGINT)) AS mh{i}"
        for i in range(num_hashes)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {cols} FROM sig".format(
            b=b,
            cols=", ".join(f"mh{b * r + j} AS b{j}" for j in range(r)),
        )
        for b in range(bands)
    )
    band_key = " AND ".join(["a.band = c.band"] + [f"a.b{j} = c.b{j}" for j in range(r)])
    if cross_corpus_mod is None:
        pair_pred = "a.doc_id < c.doc_id"
        c1, c2 = "doc_id_1", "doc_id_2"
    else:
        m = int(cross_corpus_mod)
        pair_pred = f"a.doc_id % {m} <> 0 AND c.doc_id % {m} = 0"
        c1, c2 = "train_doc_id", "eval_doc_id"
    # verification mirrors the operator: TRUE Jaccard over shingle sets
    # (never a signature-agreement estimate — see dedup.minhash_lsh_pairs)
    return f"""
WITH {_shingle_cte(3)},
sig AS (SELECT doc_id, {hash_cols} FROM sh GROUP BY doc_id),
bandrows AS ({band_selects}),
cand AS (
  SELECT DISTINCT a.doc_id AS {c1}, c.doc_id AS {c2}
  FROM bandrows a JOIN bandrows c ON {band_key}
  WHERE {pair_pred}),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT cand.{c1}, cand.{c2}, count(*) AS shared
  FROM cand
  JOIN sh sa ON sa.doc_id = cand.{c1}
  JOIN sh sb ON sb.doc_id = cand.{c2} AND sb.shingle = sa.shingle
  GROUP BY 1, 2)
SELECT {c1}, {c2},
       round(shared * 1.0 / (n1.n_sh + n2.n_sh - shared), 6) AS jaccard
FROM shared
JOIN sizes n1 ON {c1} = n1.doc_id
JOIN sizes n2 ON {c2} = n2.doc_id
WHERE shared * 1.0 / (n1.n_sh + n2.n_sh - shared) >= {threshold}
"""


@register("dedup_minhash_lsh", oracle=_minhash_oracle(16, 4, 0.5))
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    return dedup.minhash_lsh_pairs(cat["documents"], num_hashes=16, bands=4, threshold=0.5)


def _simhash_oracle(bits: int = 64) -> str:
    sums = ", ".join(
        f"sum(CASE WHEN (CAST(('0x' || substr(md5('0|' || tok), 1, 15)) AS BIGINT) >> {b}) & 1 = 1"
        f" THEN 1 ELSE -1 END) AS s{b}"
        for b in range(bits)
    )
    bitstr = " || ".join(f"CASE WHEN s{b} > 0 THEN '1' ELSE '0' END" for b in range(bits))
    return f"""
WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
sums AS (SELECT doc_id, {sums} FROM toks GROUP BY doc_id)
SELECT doc_id, {bitstr} AS simhash_bits FROM sums
"""


@register("dedup_simhash", oracle=_simhash_oracle(64))
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-char bit string of the simhash, LSB (bit 0) first — unchanged
    output; r11 derives it from the packed one-long signature
    (``bin`` prints the 64-bit two's-complement MSB-first, so
    ``reverse(lpad(...))`` is exactly the bit0-first concatenation the
    per-bit-column form produced, in 3 expressions instead of 128 —
    the wide form spent ~1.5 s per run in plan optimization alone)."""
    cat = Catalog(spark, sf_dir)
    sig = dedup._simhash_sig(cat["documents"], bits=64)
    return sig.select(
        "doc_id",
        F.reverse(F.lpad(F.bin("sig"), 64, "0")).alias("simhash_bits"),
    )


def _srp_near_dup_oracle(
    threshold: float = 0.5,
    dim: int = 64,
    n_bands: int = 8,
    planes_per_band: "int | str" = 6,
    seed: int = 42,
) -> str:
    """DuckDB twin of ``similarity.cosine_near_dup_pairs``: regenerates
    the identical md5-seeded SRP planes in SQL (``_plane``'s scheme:
    int(md5(f"{seed}|{plane_id}|{i}")[:8], 16) / 2^31 - 1, all exact in
    double), computes per-band bucket ids, and scores only band-bucket
    collisions — candidate-for-candidate the same set as the Spark LSH
    path, no giant plane literals in the SQL text.

    ``planes_per_band="auto"`` mirrors
    ``similarity.auto_planes_per_band`` with a params CTE:
    ``n < 16 → 8`` else ``max(8, floor(log2(n/16)) + 1)`` — the SAME
    IEEE-double log2/floor both engines evaluate (stable: the floor can
    only straddle an integer when n/16 is an exact power of two, where
    log2 is exact).  DuckDB's ``range()`` cannot take lateral column
    arguments, so the plane-id stream is a static 512-id range (plane
    budget for corpora up to 16·2^64) filtered by ``pid < bands·ppb``
    BEFORE any md5 is evaluated."""
    if planes_per_band == "auto":
        params_cte = (
            "params AS (SELECT CASE WHEN count(*) < 16 THEN 8 ELSE "
            "greatest(8, CAST(floor(log2(count(*) / 16.0)) AS INT) + 1) END AS ppb "
            "FROM embeddings)"
        )
        planes_src = f"params, range(512) t(pid), range({dim}) d(i)\n  WHERE pid < {n_bands} * ppb"
    else:
        params_cte = f"params AS (SELECT {int(planes_per_band)} AS ppb)"
        planes_src = f"params, range({n_bands} * {int(planes_per_band)}) t(pid), range({dim}) d(i)"
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
{params_cte},
planes AS (
  SELECT CAST(pid // ppb AS INT) AS band,
         CAST(pid % ppb AS INT) AS p,
         list(CAST(('0x' || substr(md5({seed} || '|' || pid || '|' || i), 1, 8)) AS BIGINT)
              / 2147483648.0 - 1.0 ORDER BY i) AS plane
  FROM {planes_src}
  GROUP BY pid, ppb),
sig AS (
  SELECT n.vec_id, pl.band,
         sum(CASE WHEN list_dot_product(n.v, pl.plane) > 0
                  THEN CAST(pow(2, pl.p) AS BIGINT) ELSE 0 END) AS bucket
  FROM n, planes pl GROUP BY n.vec_id, pl.band),
cand AS (
  SELECT DISTINCT s1.vec_id AS vec_id_1, s2.vec_id AS vec_id_2
  FROM sig s1 JOIN sig s2
    ON s1.band = s2.band AND s1.bucket = s2.bucket AND s1.vec_id < s2.vec_id)
SELECT vec_id_1, vec_id_2,
       round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
FROM cand JOIN n a ON cand.vec_id_1 = a.vec_id JOIN n b ON cand.vec_id_2 = b.vec_id
WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= {threshold}
"""


@register(
    "dedup_embedding_cosine",
    oracle=_srp_near_dup_oracle(
        threshold=0.4, dim=64, n_bands=8, planes_per_band="auto", seed=42
    ),
)
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded SRP-LSH candidate generation + exact cosine verify.

    Threshold 0.4 because the synthetic embeddings are i.i.d. random
    (max pairwise cosine ~0.55 — nothing survives a realistic 0.95, and
    LSH recall at low thresholds is intentionally partial); the graded
    semantics are the LSH candidate pipeline itself, which the oracle
    reproduces plane-for-plane from the same md5 stream.

    ``planes_per_band="auto"`` (round 7): both engines derive the plane
    count from COUNT(*) via the identical floor(log2(n/16))+1 formula
    (similarity.auto_planes_per_band ↔ the oracle's params CTE), so
    bucket occupancy — and with it candidate volume per vector — stays
    constant as the corpus grows, instead of the 34×-at-×64 blowup the
    stress harness measured at a pinned plane count.  At the graded
    SFs (n=500/2000) the formula resolves to the floor of 8 planes,
    bit-identical to the previous pinned configuration."""
    cat = Catalog(spark, sf_dir)
    return similarity.cosine_near_dup_pairs(
        cat["embeddings"], threshold=0.4, dim=64, n_bands=8, planes_per_band="auto"
    )


@register("doc_fingerprint_winnow", oracle=f"""
WITH {_shingle_cte(3)},
hashed AS (
  SELECT doc_id, CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h
  FROM sh)
SELECT doc_id,
       count(*) AS n_shingles,
       min(h) AS min_hash,
       array_to_string(list_slice(list_sort(list(h)), 1, 4), ',') AS bottom_k
FROM hashed GROUP BY doc_id
""")
def q_doc_fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bottom_k is serialized to CSV at the query boundary (driver's
    canonicalizer cannot hash list cells)."""
    cat = Catalog(spark, sf_dir)
    fp = dedup.winnow_fingerprints(cat["documents"], n=3, k=4)
    return fp.withColumn(
        "bottom_k",
        F.array_join(F.transform("bottom_k", lambda x: x.cast("string")), ","),
    )


@register("dedup_cc_clusters", oracle=f"""
WITH RECURSIVE {_shingle_cte(3)},
{_capped_shingle_cte(NGRAM_MAX_DOC_FREQ)},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shc GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT d1, d2
  FROM shared JOIN sizes n1 ON d1 = n1.doc_id JOIN sizes n2 ON d2 = n2.doc_id
  WHERE shared * 1.0 / (n1.n_sh + n2.n_sh - shared) >= 0.5),
sym AS (SELECT d1 AS src, d2 AS dst FROM pairs
        UNION SELECT d2, d1 FROM pairs),
walk(node, label) AS (
  SELECT src, src FROM sym
  UNION
  SELECT s.src, w.label FROM sym s JOIN walk w ON s.dst = w.node),
lab AS (SELECT node AS doc_id, min(label) AS cluster_id FROM walk GROUP BY node)
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM lab
""")
def q_dedup_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the n-gram-Jaccard
    pair graph (threshold 0.5) — the step that turns pairwise similarity
    into dedup groups at corpus scale.  The oracle proves the result
    equals the transitive closure via a recursive CTE.

    Round-7 graded configuration — both scale levers on:

    * the pair graph is the CAPPED jaccard join (hot shingles with
      df > NGRAM_MAX_DOC_FREQ dropped, oracle in lockstep), bounding
      candidate volume linearly instead of the Σdf² fan the ×8 stress
      measured at 14×;
    * the component engine is the alternating large-star/small-star
      contraction (O(log² n) rounds regardless of component diameter —
      the production choice for chain-shaped near-dup graphs, where
      min-label propagation pays O(diameter) shuffles).  The minlabel
      engine stays graded as ``dedup_cc_clusters_minlabel``; both are
      property-tested equivalent against an independent union-find."""
    cat = Catalog(spark, sf_dir)
    edges = dedup.ngram_jaccard_pairs(
        cat["documents"], n=3, threshold=0.5, max_doc_freq=NGRAM_MAX_DOC_FREQ
    )
    return dedup.connected_components(edges, algorithm="star").withColumnRenamed(
        "node", "doc_id"
    )


@register("decontaminate_ngram", oracle=f"""
WITH {_shingle_cte(5)},
ev AS (SELECT doc_id AS eval_doc, shingle FROM sh WHERE doc_id % 20 = 0),
tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 20 <> 0)
SELECT tr.doc_id,
       count(DISTINCT tr.shingle) AS n_shared_ngrams,
       count(DISTINCT ev.eval_doc) AS n_eval_docs
FROM tr JOIN ev ON tr.shingle = ev.shingle
GROUP BY tr.doc_id
""")
def q_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    5-gram with the held-out eval split (doc_id % 20 == 0 plays the
    benchmark).  The eval shingle set is small by construction — the
    whole point of the operator — so it is BROADCAST: the 100 TB
    training corpus is scanned once, shingled in place, and probed
    against the in-memory eval index with no shuffle of the big side.
    5-grams (not 3) because decontamination wants high-precision
    matches; at test SF the only hits are the planted near-dup pairs."""
    cat = Catalog(spark, sf_dir)
    sh = dedup.shingles(cat["documents"], n=5)
    ev = sh.filter(F.col("doc_id") % 20 == 0).select(
        F.col("doc_id").alias("eval_doc"), "shingle"
    )
    tr = sh.filter(F.col("doc_id") % 20 != 0)
    return (
        tr.join(F.broadcast(ev), on="shingle")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("shingle").alias("n_shared_ngrams"),
            F.countDistinct("eval_doc").alias("n_eval_docs"),
        )
    )


@register("dedup_semdedup")
def q_dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table: k-means cells + intra-cell
    cosine near-dup drop; per-cell (n_vectors, n_kept) summary.
    Iterative k-means → rows-only check (the keep-rule is unit-tested
    against a brute-force oracle in tests/test_operators.py)."""
    cat = Catalog(spark, sf_dir)
    return similarity.semdedup(
        cat["embeddings"], n_clusters="auto", threshold=0.95, seed=42
    )


# ---------------------------------------------------------------------------
# Substring-duplication coverage (positional 8-gram dedup signal)
# ---------------------------------------------------------------------------

_SUB_N = 8


def _sub_parts(n: int) -> str:
    return ", ".join(f"t[i + {j}]" for j in range(n))


_SQL_SUBSTRING_COVERAGE = f"""
WITH toks AS (SELECT doc_id, {_RAW_TOKS} AS t FROM documents),
pos AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(t) - {_SUB_N - 1}, 0)),
                               i -> concat_ws(' ', {_sub_parts(_SUB_N)}))) AS w
  FROM toks),
freq AS (SELECT w, count(*) AS freq FROM pos GROUP BY w),
per_doc AS (
  SELECT doc_id, count(*) AS n_windows,
         CAST(sum(CASE WHEN freq > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows
  FROM pos JOIN freq USING (w)
  GROUP BY doc_id)
SELECT doc_id, n_windows, n_dup_windows,
       round(n_dup_windows * 1.0 / n_windows, 6) AS dup_frac
FROM per_doc
UNION ALL
SELECT doc_id, CAST(0 AS BIGINT) AS n_windows, CAST(0 AS BIGINT) AS n_dup_windows, 0.0 AS dup_frac
FROM toks WHERE len(t) < {_SUB_N}
"""


@register("dedup_substring_coverage", oracle=_SQL_SUBSTRING_COVERAGE)
def q_dedup_substring_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document substring-duplication coverage: the fraction of
    positional 8-gram windows whose exact 8-gram also occurs elsewhere
    in the corpus — the per-position signal behind suffix-array-style
    training-data dedup, at n-gram granularity.

    Scale shape: two shuffles total — (1) group exploded windows by an
    8-byte xxhash64 key to count global frequency (the oracle groups the
    raw shingle string: identical counts modulo astronomically unlikely
    64-bit collisions), (2) group back by doc_id.  Candidate volume is
    positions, not pairs: O(total tokens), never O(docs²)."""
    cat = Catalog(spark, sf_dir)
    # stage the token array first: lambdas are not CSE'd, so
    # slice(tokens(text), i, 8) would re-split the whole text per
    # window — O(doc_len²) per doc (the quantize_int8 lesson)
    staged = cat["documents"].select(
        "doc_id", text.tokens(F.col("text")).alias("__t")
    )
    toks = F.col("__t")
    n = F.size(toks)
    # guard: F.sequence(1, 0) DESCENDS in Spark (step defaults to -1),
    # so short docs must take the empty-array branch explicitly
    windows = F.when(
        n >= _SUB_N,
        F.transform(
            F.sequence(F.lit(1), n - (_SUB_N - 1)),
            lambda i: F.xxhash64(F.array_join(F.slice(toks, i, _SUB_N), " ")),
        ),
    ).otherwise(F.array().cast("array<long>"))
    # explode_outer keeps short docs (empty window array -> one null
    # row), so the zero rows ride the same single scan instead of a
    # second documents pass; null keys collapse into one harmless
    # window partition whose freq is never used
    pos = staged.select("doc_id", F.explode_outer(windows).alias("w"))
    # one shuffle on w (window count) instead of groupBy(w) + re-explode
    # + shuffle join: the corpus is exploded and hashed exactly once
    freq = F.count(F.lit(1)).over(Window.partitionBy("w"))
    per_doc = (
        pos.withColumn("freq", freq)
        .groupBy("doc_id")
        .agg(
            F.count("w").alias("n_windows"),
            F.sum((F.col("w").isNotNull() & (F.col("freq") > 1)).cast("long")).alias(
                "n_dup_windows"
            ),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_windows",
        "n_dup_windows",
        F.when(
            F.col("n_windows") > 0,
            F.round(F.col("n_dup_windows") / F.col("n_windows"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_frac"),
    )


def _containment_cte() -> str:
    return f"""
WITH {_shingle_cte(3)},
{_capped_shingle_cte(NGRAM_MAX_DOC_FREQ)},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shc GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS shared
  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
both_sides AS (
  SELECT doc_id_1, doc_id_2, shared, n1.n_sh AS n1, n2.n_sh AS n2
  FROM shared
  JOIN sizes n1 ON doc_id_1 = n1.doc_id
  JOIN sizes n2 ON doc_id_2 = n2.doc_id),
directed AS (
  SELECT doc_id_1 AS contained_id, doc_id_2 AS container_id,
         round(shared * 1.0 / n1, 6) AS containment FROM both_sides
  UNION ALL
  SELECT doc_id_2 AS contained_id, doc_id_1 AS container_id,
         round(shared * 1.0 / n2, 6) AS containment FROM both_sides)
SELECT contained_id, container_id, containment
FROM directed WHERE containment >= 0.9
"""


# ---------------------------------------------------------------------------
# Directed n-gram containment (quote-inclusion dedup)
# ---------------------------------------------------------------------------


@register("dedup_ngram_containment", oracle=_containment_cte())
def q_dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed containment pairs C(A⊂B) = |sh(A)∩sh(B)|/|sh(A)| ≥ 0.9 —
    the asymmetric near-dup that Jaccard misses (short doc fully quoted
    inside a long one).  See operators.dedup.ngram_containment_pairs.

    Round 10: pins ``max_doc_freq`` to the shingle family's shared cap
    (operator + oracle in lockstep, regraded) — this was the last
    shingle operator graded in its uncapped configuration, i.e. the
    last inverted-index self-join whose candidate volume could go
    Σ_shingle C(df, 2) on a boilerplate-heavy corpus.  Hot shingles
    are dropped from the index AND the containment denominators,
    identically in both engines, the jaccard-entry precedent.  The cap
    is inert on the graded corpus (no trigram df exceeds the cap at
    any graded SF; outputs verified identical) — it exists for the
    boilerplate-heavy shape, exactly like the substring family's."""
    cat = Catalog(spark, sf_dir)
    return dedup.ngram_containment_pairs(
        cat["documents"], n=3, threshold=0.9, max_doc_freq=NGRAM_MAX_DOC_FREQ
    )


# 12 vectors in 4-d: three well-separated direction clusters, each with
# a known near-duplicate structure (brute-force float32-cosine mirror in
# tools/fixture_expectations.py): cell of +y keeps 3 (one exact dup),
# +z keeps 1 (all four mutually >= 0.95), +x keeps 2 (two exact dups)
_SD_VECS = [
    (0, [10.0, 0.2, 0.1, 0.0]), (1, [10.1, 0.2, 0.1, 0.0]),
    (2, [9.9, 0.21, 0.1, 0.0]), (3, [8.0, 3.0, 0.0, 0.0]),
    (4, [0.1, 12.0, 0.3, 0.0]), (5, [0.1, 12.1, 0.3, 0.0]),
    (6, [0.0, 9.0, 4.0, 0.0]), (7, [3.0, 9.0, 0.0, 2.0]),
    (8, [0.0, 0.1, 11.0, 0.2]), (9, [0.3, 0.0, 10.0, 3.0]),
    (10, [0.0, 2.0, 9.0, 0.0]), (11, [1.0, 0.0, 10.5, 0.1]),
]
_SD_EXPECT = [(0, 4, 3), (1, 4, 1), (2, 4, 2)]


_SQL_SEMDEDUP_FIXTURE = "SELECT * FROM (VALUES {vals}) AS t(cell, n_vectors, n_kept)".format(
    vals=", ".join(
        f"(CAST({c} AS INT), CAST({n} AS BIGINT), CAST({k} AS BIGINT))"
        for c, n, k in _SD_EXPECT
    )
)


@register("dedup_semdedup_fixture", oracle=_SQL_SEMDEDUP_FIXTURE)
def q_dedup_semdedup_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup on a fixed 12-vector corpus — the hash-graded twin of
    the rows-only ``dedup_semdedup`` entry.  Runs the identical
    operator (driver-side Lloyd k-means fit, Arrow-batched unit-vector
    assignment, intra-cell pair join, arithmetic summary); the oracle
    is the independently computed brute-force keep count per cell."""
    emb = spark.createDataFrame(
        _SD_VECS, "vec_id long, embedding array<float>"
    )
    return similarity.semdedup(emb, n_clusters=3, threshold=0.95, seed=42)


_SQL_PARAGRAPH_DEDUP = """
WITH spans AS (
  SELECT DISTINCT doc_id, trim(s) AS span
  FROM (SELECT doc_id, unnest(string_split_regex(text, '\\. ')) AS s
        FROM documents)
  WHERE length(trim(s)) >= 20),
owners AS (SELECT span, min(doc_id) AS owner FROM spans GROUP BY span)
SELECT doc_id,
       count(*) AS n_spans,
       CAST(sum(CASE WHEN owner < doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_foreign_dup
FROM spans JOIN owners USING (span)
GROUP BY doc_id
"""


@register("dedup_paragraph_exact", oracle=_SQL_PARAGRAPH_DEDUP)
def q_dedup_paragraph_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style span-level dedup signal: split each document into
    sentence spans, fingerprint each distinct span, and count per doc
    how many of its spans are owned by an earlier document (the spans a
    line-level dedup pass would strip).  Owner of a span = min doc_id
    containing it.

    Scale shape: ONE explode, spans hashed to 8-byte xxhash64 keys
    immediately (no string shuffle), distinct (doc, hash) pre-agg, then
    ownership as min(doc_id) OVER the hash partition — a window, not a
    groupBy+join: the owner relation is corpus-scale (one row per
    distinct span) and must never be a broadcast side.  Three exchanges
    (map-combined distinct pre-agg, hash window, per-doc regroup);
    never doc × doc."""
    cat = Catalog(spark, sf_dir)
    spans = (
        cat["documents"]
        .select(
            "doc_id",
            F.explode(F.split(F.col("text"), "\\. ")).alias("span"),
        )
        .where(F.length(F.trim(F.col("span"))) >= 20)
        .select("doc_id", F.xxhash64(F.trim(F.col("span"))).alias("h"))
        .distinct()
    )
    owner = F.min("doc_id").over(Window.partitionBy("h"))
    return (
        spans.withColumn("foreign", (F.col("doc_id") > owner).cast("long"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum("foreign").alias("n_foreign_dup"),
        )
    )


_SQL_CORPUS_OVERLAP = """
WITH flags AS (
  SELECT md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp,
         bool_or(CAST(('0x' || substr(md5(source), 1, 2)) AS INT) % 2 = 0) AS a,
         bool_or(CAST(('0x' || substr(md5(source), 1, 2)) AS INT) % 2 <> 0) AS b
  FROM documents GROUP BY 1)
SELECT CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       CAST(sum(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
       round(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
         AS jaccard
FROM flags
"""


@register("corpus_overlap_jaccard", oracle=_SQL_CORPUS_OVERLAP)
def q_corpus_overlap_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-overlap audit (the pre-merge question for any two crawls:
    how much is shared?): documents are split into two pseudo-corpora by
    source hash, fingerprinted by normalized text, and the distinct-
    fingerprint overlap + Jaccard is computed in ONE aggregate over the
    per-fingerprint presence flags.

    Scale shape: groupBy(fingerprint) with bool_or flags — shuffle is
    the distinct fingerprint domain, the A/B/∩ counts all come from the
    same tiny post-aggregation scan."""
    cat = Catalog(spark, sf_dir)
    fp = F.md5(F.lower(F.regexp_replace(F.col("text"), "\\s+", " ")))
    side_a = (
        F.conv(F.substring(F.md5(F.col("source")), 1, 2), 16, 10).cast("int") % 2 == 0
    )
    flags = (
        cat["documents"]
        .select(fp.alias("fp"), side_a.alias("in_a"))
        .groupBy("fp")
        .agg(F.bool_or("in_a").alias("a"), F.bool_or(~F.col("in_a")).alias("b"))
    )
    return flags.agg(
        F.sum(F.col("a").cast("long")).alias("n_a"),
        F.sum(F.col("b").cast("long")).alias("n_b"),
        F.sum((F.col("a") & F.col("b")).cast("long")).alias("n_both"),
        F.round(
            F.sum((F.col("a") & F.col("b")).cast("long"))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# cross-corpus (train vs eval) minhash decontamination
# ---------------------------------------------------------------------------


@register(
    "dedup_minhash_cross_corpus",
    oracle=_minhash_oracle(
        16, 4, 0.5, cross_corpus_mod=10
    ),
)
def q_dedup_minhash_cross_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-level train-vs-eval contamination: LSH candidates
    across the doc_id % 10 split, verified with true n-gram Jaccard —
    the fuzzy-duplicate complement of ``decontaminate_ngram``'s exact
    5-gram hits (see dedup.minhash_cross_corpus_pairs)."""
    cat = Catalog(spark, sf_dir)
    return dedup.minhash_cross_corpus_pairs(
        cat["documents"], eval_mod=10, num_hashes=16, bands=4, threshold=0.5
    )


_SQL_CC_MINLABEL = f"""
WITH RECURSIVE {_shingle_cte(3)},
{_capped_shingle_cte(NGRAM_MAX_DOC_FREQ)},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shc GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT d1, d2
  FROM shared JOIN sizes n1 ON d1 = n1.doc_id JOIN sizes n2 ON d2 = n2.doc_id
  WHERE shared * 1.0 / (n1.n_sh + n2.n_sh - shared) >= 0.5),
sym AS (SELECT d1 AS src, d2 AS dst FROM pairs
        UNION SELECT d2, d1 FROM pairs),
walk(node, label) AS (
  SELECT src, src FROM sym
  UNION
  SELECT s.src, w.label FROM sym s JOIN walk w ON s.dst = w.node),
lab AS (SELECT node AS doc_id, min(label) AS cluster_id FROM walk GROUP BY node)
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM lab
"""


# ``dedup_ngram_jaccard_uncapped`` was RETIRED in round 8 (it lived at
# this spot through rounds 7): it existed solely as grading continuity
# for the round-7 capped flip, and once `dedup_ngram_jaccard` (capped)
# held its own green r07 verdict the twin's only remaining property was
# its by-design Σdf² candidate fan — the one battery entry with a
# measured superlinear ratio (15.5× at ×8).  Prefix filtering was
# re-measured and is only a constant-factor cut on this corpus (the
# candidate volume is still Σ(prefix-df)², quadratic in df), so
# retirement is the only option meeting "no battery entry superlinear
# at its graded knobs".  The uncapped SEMANTICS remain fully available
# (`ngram_jaccard_pairs(..., max_doc_freq=None)`), fuzz-covered by
# tests/test_round7_property.py + test_round8_property.py, and
# scale-measured as the labelled control row in SCALE.md.


@register("dedup_cc_clusters_minlabel", oracle=_SQL_CC_MINLABEL)
def q_dedup_cc_clusters_minlabel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The min-label-propagation CC engine over the same capped pair
    graph as the (now star-contraction) graded ``dedup_cc_clusters`` —
    both engines stay graded against the identical recursive-CTE
    transitive-closure oracle, making their property-tested equivalence
    (tests/test_round6_property.py) driver-visible."""
    cat = Catalog(spark, sf_dir)
    edges = dedup.ngram_jaccard_pairs(
        cat["documents"], n=3, threshold=0.5, max_doc_freq=NGRAM_MAX_DOC_FREQ
    )
    return dedup.connected_components(edges, algorithm="minlabel").withColumnRenamed(
        "node", "doc_id"
    )


# ---------------------------------------------------------------------------
# exact substring dedup (suffix-ranking candidates + exact-LCS verify)
# ---------------------------------------------------------------------------

_SUBSTR_MIN_LEN = 8
#: Skew valve pinned on the GRADED entry (round 9): candidate volume is
#: Σ_cls C(df,2) and a boilerplate-heavy corpus (every doc sharing one
#: ≥8-token footer) goes quadratic in that class without a cap — the
#: same failure pattern the minhash family burned down over three
#: rounds.  16 matches the jaccard family's max_doc_freq and is inert
#: on the graded corpus (hottest class df=3, outputs identical); one
#: constant, interpolated into BOTH the operator call and the oracle.
_SUBSTR_MAX_RUN_FREQ = 16


_SQL_SUBSTRING_EXACT = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
dl AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) >= {_SUBSTR_MIN_LEN}),
positions AS (
  SELECT doc_id, t, n, unnest(generate_series(1, n - {_SUBSTR_MIN_LEN} + 1)) AS pos
  FROM dl),
pk AS (
  SELECT doc_id, t, pos, unnest(generate_series({_SUBSTR_MIN_LEN}, n - pos + 1)) AS k
  FROM positions),
grams AS (
  SELECT DISTINCT doc_id, k, md5(array_to_string(t[pos:pos+k-1], ' ')) AS g
  FROM pk),
g8 AS (SELECT DISTINCT doc_id, g FROM grams WHERE k = {_SUBSTR_MIN_LEN}),
cold8 AS (
  SELECT g FROM (SELECT g, count(*) AS df FROM g8 GROUP BY g)
  WHERE df <= {_SUBSTR_MAX_RUN_FREQ}),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM g8 a JOIN g8 b ON a.g = b.g AND a.doc_id < b.doc_id
  JOIN cold8 c ON c.g = a.g)
SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
       CAST(max(a.k) AS BIGINT) AS lcs_len
FROM grams a JOIN grams b ON a.g = b.g AND a.k = b.k AND a.doc_id < b.doc_id
JOIN cand ON cand.d1 = a.doc_id AND cand.d2 = b.doc_id
GROUP BY 1, 2
"""


@register("dedup_substring_exact", oracle=_SQL_SUBSTRING_EXACT)
def q_dedup_substring_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See operators.dedup.substring_dedup_pairs: exact longest common
    token-run per doc pair, pairs with lcs_len ≥ 8, restricted to pairs
    sharing at least one NON-boilerplate 8-token run (run classes in
    more than ``_SUBSTR_MAX_RUN_FREQ`` docs are dropped before pairing;
    CI tripwire in tests/test_scale_ratios.py).  Spark computes it with
    O(tokens·log min_len) prefix-doubling suffix classes + an
    Arrow-batched exact verify; the oracle brute-forces every k-gram
    (O(Σ len²) — fine at sf0.01, the shape the Spark path exists to
    avoid) and applies the identical df cap on the 8-gram classes."""
    cat = Catalog(spark, sf_dir)
    return dedup.substring_dedup_pairs(
        cat["documents"],
        min_len=_SUBSTR_MIN_LEN,
        max_run_freq=_SUBSTR_MAX_RUN_FREQ,
    )


def _minhash_keep_oracle(num_hashes: int = 16, bands: int = 4, threshold: float = 0.5) -> str:
    """Recursive-CTE closure over the dedup_minhash_lsh pair relation
    (the pair SQL is embedded verbatim via _minhash_oracle so the two
    oracles can never drift apart)."""
    pairs_sql = _minhash_oracle(num_hashes, bands, threshold).strip()
    return f"""
WITH RECURSIVE pairs AS ({pairs_sql}),
sym AS (SELECT doc_id_1 AS src, doc_id_2 AS dst FROM pairs
        UNION SELECT doc_id_2, doc_id_1 FROM pairs),
walk(node, label) AS (
  SELECT src, src FROM sym
  UNION
  SELECT s.src, w.label FROM sym s JOIN walk w ON s.dst = w.node),
lab AS (SELECT node AS doc_id, min(label) AS cluster_id FROM walk GROUP BY node),
sized AS (
  SELECT doc_id, cluster_id,
         count(*) OVER (PARTITION BY cluster_id) AS n_members
  FROM lab)
SELECT d.doc_id,
       coalesce(s.cluster_id, d.doc_id) AS cluster_id,
       CAST(coalesce(s.n_members, 1) AS BIGINT) AS n_members,
       coalesce(s.cluster_id, d.doc_id) = d.doc_id AS kept
FROM documents d LEFT JOIN sized s ON d.doc_id = s.doc_id
"""


# ---------------------------------------------------------------------------
# end-to-end dedup keep set (LSH pairs → components → representative)
# ---------------------------------------------------------------------------


@register("dedup_minhash_keep", oracle=_minhash_keep_oracle(16, 4, 0.5))
def q_dedup_minhash_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production OUTPUT of the dedup family: which documents
    survive.  Chains the graded stages end-to-end — minhash-LSH
    candidate pairs (16 independent salted-md5 hashes, 4 bands, true-
    Jaccard verify at θ=0.5) → star-contraction connected components →
    keep the min-doc_id representative per cluster — and emits one row
    per corpus document with its cluster id, cluster size, and kept
    flag (singletons are their own kept cluster of 1).

    Every stage carries its own scale contract (linear candidate
    volume, O(log² n) contraction rounds); composing them adds only the
    final left join back to the corpus, shuffled on doc_id.  The oracle
    mirrors the full chain: the signature/band/verify SQL of
    dedup_minhash_lsh feeding a recursive-CTE transitive closure."""
    cat = Catalog(spark, sf_dir)
    docs = cat["documents"]
    edges = dedup.minhash_lsh_pairs(docs, num_hashes=16, bands=4, threshold=0.5)
    cc = dedup.connected_components(edges, algorithm="star").withColumnRenamed(
        "node", "doc_id"
    )
    out = docs.select("doc_id").join(cc, "doc_id", "left")
    rep = F.coalesce("cluster_id", F.col("doc_id"))
    return out.select(
        "doc_id",
        rep.alias("cluster_id"),
        F.coalesce("cluster_size", F.lit(1)).cast("long").alias("n_members"),
        (rep == F.col("doc_id")).alias("kept"),
    )


#: Corpus split shared with dedup_minhash_cross_corpus and
#: decontaminate_ngram: eval = doc_id % 10 == 0.
_EVAL_MOD = 10


# The leakage lens the other two miss: decontaminate_ngram is exact at a
# FIXED n and dedup_minhash_cross_corpus is fuzzy whole-doc, so a
# verbatim eval span quoted inside an otherwise-novel training doc
# dodges both but never an exact ≥8-token-run scan.
_SQL_DECONTAM_SUBSTRING = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
dl AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) >= {_SUBSTR_MIN_LEN}),
positions AS (
  SELECT doc_id, t, n, unnest(generate_series(1, n - {_SUBSTR_MIN_LEN} + 1)) AS pos
  FROM dl),
pk AS (
  SELECT doc_id, t, pos, unnest(generate_series({_SUBSTR_MIN_LEN}, n - pos + 1)) AS k
  FROM positions),
grams AS (
  SELECT DISTINCT doc_id, k, md5(array_to_string(t[pos:pos+k-1], ' ')) AS g
  FROM pk),
g8 AS (SELECT DISTINCT doc_id, g FROM grams WHERE k = {_SUBSTR_MIN_LEN}),
cold8 AS (
  SELECT g FROM (SELECT g, count(*) AS df FROM g8 GROUP BY g)
  WHERE df <= {_SUBSTR_MAX_RUN_FREQ}),
cand AS (
  SELECT DISTINCT a.doc_id AS tr, b.doc_id AS ev
  FROM g8 a JOIN g8 b ON a.g = b.g
  JOIN cold8 c ON c.g = a.g
  WHERE a.doc_id % {_EVAL_MOD} <> 0 AND b.doc_id % {_EVAL_MOD} = 0)
SELECT a.doc_id AS train_doc_id, b.doc_id AS eval_doc_id,
       CAST(max(a.k) AS BIGINT) AS span_len
FROM grams a JOIN grams b ON a.g = b.g AND a.k = b.k
JOIN cand ON cand.tr = a.doc_id AND cand.ev = b.doc_id
GROUP BY 1, 2
"""


@register("decontaminate_substring", oracle=_SQL_DECONTAM_SUBSTRING)
def q_decontaminate_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See operators.dedup.substring_decontaminate_pairs: exact longest
    shared token run ≥ 8 for every train×eval pair (eval = doc_id % 10
    == 0), run classes hotter than the family cap dropped before
    pairing.  Spark: prefix-doubling suffix classes + cross-split
    equi-join + Arrow exact-LCS verify; oracle: brute-force k-grams
    with the identical split and df cap."""
    cat = Catalog(spark, sf_dir)
    return dedup.substring_decontaminate_pairs(
        cat["documents"],
        min_len=_SUBSTR_MIN_LEN,
        eval_mod=_EVAL_MOD,
        max_run_freq=_SUBSTR_MAX_RUN_FREQ,
    )


#: Hot-bucket valve pinned on the GRADED simhash-pairs entry (round 10,
#: VERDICT r09 defect #2): candidate volume is Σ_{(chunk,value)}
#: C(df,2), and a near-identical-doc corpus detonates one bucket
#: without a cap.  16 matches the jaccard/substring family caps and is
#: inert on the graded corpus; one constant, interpolated into BOTH
#: the operator call and the oracle.
_SIMHASH_MAX_BUCKET_FREQ = 16
_SIMHASH_MAX_HAMMING = 3


def _simhash_pairs_oracle(bits: int = 64) -> str:
    """Chunk blocking + df cap + exact Hamming, all over the SAME
    md5-derived bit string the graded ``dedup_simhash`` oracle emits:
    chunk c of doc d is ``substr(bitstr, c*16+1, 16)``, identical bit
    layout to the Spark side's numeric chunk values (equality of the
    16-char substring ⟺ equality of the numeric chunk)."""
    sums = ", ".join(
        f"sum(CASE WHEN (CAST(('0x' || substr(md5('0|' || tok), 1, 15)) AS BIGINT) >> {b}) & 1 = 1"
        f" THEN 1 ELSE -1 END) AS s{b}"
        for b in range(bits)
    )
    bitstr = " || ".join(f"CASE WHEN s{b} > 0 THEN '1' ELSE '0' END" for b in range(bits))
    width = bits // 4
    return f"""
WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
sums AS (SELECT doc_id, {sums} FROM toks GROUP BY doc_id),
sig AS (SELECT doc_id, {bitstr} AS s FROM sums),
chunks AS (
  SELECT doc_id, c, substr(s, c * {width} + 1, {width}) AS cv
  FROM sig, range(0, 4) t(c)),
cold AS (
  SELECT c, cv FROM (SELECT c, cv, count(*) AS df FROM chunks GROUP BY c, cv)
  WHERE df <= {_SIMHASH_MAX_BUCKET_FREQ}),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM chunks a JOIN chunks b ON a.c = b.c AND a.cv = b.cv AND a.doc_id < b.doc_id
  JOIN cold k ON k.c = a.c AND k.cv = a.cv),
ham AS (
  SELECT d1, d2,
         (SELECT count(*) FROM range(1, {bits} + 1) g(i)
          WHERE substr(s1.s, CAST(i AS INT), 1) <> substr(s2.s, CAST(i AS INT), 1)) AS hamming
  FROM cand JOIN sig s1 ON s1.doc_id = d1 JOIN sig s2 ON s2.doc_id = d2)
SELECT d1 AS doc_id_1, d2 AS doc_id_2, CAST(hamming AS BIGINT) AS hamming
FROM ham WHERE hamming <= {_SIMHASH_MAX_HAMMING}
"""


@register("dedup_simhash_pairs", oracle=_simhash_pairs_oracle(64))
def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See operators.dedup.simhash_pairs: near-dup pairs with
    Hamming(simhash64) ≤ 3, candidates blocked on 16-bit signature
    chunks (pigeonhole-exact) with buckets hotter than the family cap
    dropped (CI tripwire in tests/test_scale_ratios.py).  The existing
    ``dedup_simhash`` entry grades only the SIGNATURES; this grades
    the full pair pipeline — blocking, the round-10 bucket valve, and
    the exact Hamming verify — end-to-end against an oracle that
    rebuilds the same chunks from its bit strings."""
    cat = Catalog(spark, sf_dir)
    pairs = dedup.simhash_pairs(
        cat["documents"],
        max_hamming=_SIMHASH_MAX_HAMMING,
        max_bucket_freq=_SIMHASH_MAX_BUCKET_FREQ,
    )
    return pairs.select(
        "doc_id_1", "doc_id_2", F.col("hamming").cast("long").alias("hamming")
    )
