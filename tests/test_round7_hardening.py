"""Round-7 hardening: the graded scale-configuration flips, exercised
on crafted data where the knobs actually FIRE.

The round-6 verdict's three superlinear-at-scale items were flipped to
their scale-safe configurations this round (hot-shingle df cap on the
jaccard family, star-contraction CC, count-scaled SRP planes), with the
DuckDB oracles moved in lockstep.  The driver's testdata barely
exercises the knobs at sf0.01 (max shingle df = 7 < cap = 16), so these
tests build corpora where they must fire — boilerplate footers shared
by 30 docs, chain-shaped near-dup graphs — and assert query-vs-oracle
parity there, plus the formula-level contracts (auto plane count ==
DuckDB's CASE expression for adversarial counts, star max_iter raise).
"""

import math
import os
import tempfile

import duckdb
import pytest

FOOTER = "subscribe to our newsletter today friends"  # 6 tokens, df=30 shingles


def _canon(rows):
    return sorted(
        (tuple(r) for r in rows),
        key=lambda t: tuple((v is None, str(type(v)), v) for v in t),
    )


def _duckdb_docs_oracle(sql: str, sf_dir: str):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{os.path.join(sf_dir, 'documents.parquet', '*.parquet')}'"
    )
    return con.execute(sql).fetchall()


@pytest.fixture(scope="module")
def boilerplate_docs_dir(spark):
    """30 docs sharing a 6-token footer (footer-internal 3-grams hit
    df=30 > cap=16) plus a chain of 10 docs with sliding-window overlap
    (consecutive capped-Jaccard ≈ 0.6: a diameter-9 component for the
    star engine) plus one boundary pair whose Jaccard CROSSES a 0.3
    threshold depending on the cap."""
    out = os.path.join(tempfile.gettempdir(), "rss_r07_boilerplate_docs")
    texts = []
    # 28 mutually-unrelated docs wearing the boilerplate footer
    for i in range(28):
        uniq = " ".join(f"u{i}w{j}" for j in range(10))
        texts.append(f"{uniq} {FOOTER}")
    # the cap-boundary pair: shares 'x1 x2 x3' + the footer; uncapped
    # J = 5/11 ≈ 0.45 ≥ 0.3, capped J = 1/7 ≈ 0.14 < 0.3
    texts.append(f"x1 x2 x3 x4 {FOOTER}")
    texts.append(f"x1 x2 x3 y4 {FOOTER}")
    # chain component: doc i = tokens t_{2i}..t_{2i+9} (8 shingles,
    # 6 shared with doc i+1 -> J = 0.6); per-shingle df ≤ 5 (under cap)
    for i in range(10):
        texts.append(" ".join(f"t{2 * i + j}" for j in range(10)))
    rows = [
        (i, t, "en", "synthetic", len(t)) for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )
    return out


def test_df_cap_actually_fires(spark, boilerplate_docs_dir):
    """On the boilerplate corpus the cap CHANGES the answer: the
    boundary pair is a 0.3-threshold near-dup uncapped and not capped
    (footer shingles dominate its numerator), and the capped candidate
    join never sees the 30-doc footer fan."""
    from rdbms_subsetter_spark.catalog import Catalog
    from rdbms_subsetter_spark.operators.dedup import ngram_jaccard_pairs

    docs = Catalog(spark, boilerplate_docs_dir)["documents"]
    uncapped = {
        (r["doc_id_1"], r["doc_id_2"])
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.3).collect()
    }
    capped = {
        (r["doc_id_1"], r["doc_id_2"])
        for r in ngram_jaccard_pairs(
            docs, n=3, threshold=0.3, max_doc_freq=16
        ).collect()
    }
    assert (28, 29) in uncapped
    assert (28, 29) not in capped
    # footer-driven spurious pairs exist only uncapped
    assert len(uncapped - capped) >= 1
    # chain pairs (true near-dups, rare shingles) survive the cap
    chain_ids = set(range(30, 40))
    chain_pairs = {p for p in capped if p[0] in chain_ids and p[1] in chain_ids}
    assert len(chain_pairs) >= 9


def test_capped_jaccard_oracle_parity_on_boilerplate(spark, boilerplate_docs_dir):
    """The graded dedup_ngram_jaccard entry matches its (capped) oracle
    on a corpus where the cap removes 30-doc-hot shingles — lockstep by
    construction, not by the testdata's low df."""
    import __spark_entry__ as entry_mod

    got = _canon(
        tuple(r)
        for r in entry_mod.queries()["dedup_ngram_jaccard"](
            spark, boilerplate_docs_dir
        ).collect()
    )
    want = _canon(
        _duckdb_docs_oracle(
            entry_mod.oracle_sql()["dedup_ngram_jaccard"], boilerplate_docs_dir
        )
    )
    assert got == want


def test_capped_cc_star_oracle_parity_on_chain(spark, boilerplate_docs_dir):
    """The graded dedup_cc_clusters entry (capped edges + star engine)
    matches the recursive-CTE transitive closure on a corpus with a
    diameter-9 chain component — the graph shape star contraction
    exists for."""
    import __spark_entry__ as entry_mod

    got = _canon(
        tuple(r)
        for r in entry_mod.queries()["dedup_cc_clusters"](
            spark, boilerplate_docs_dir
        ).collect()
    )
    want = _canon(
        _duckdb_docs_oracle(
            entry_mod.oracle_sql()["dedup_cc_clusters"], boilerplate_docs_dir
        )
    )
    assert got == want
    # the chain is one component of size 10 under the capped 0.5 graph
    by_doc = {r[0]: r for r in got}
    chain_clusters = {by_doc[d][1] for d in range(30, 40) if d in by_doc}
    assert len(chain_clusters) == 1
    assert by_doc[30][2] == 10


def test_star_raises_when_fixpoint_not_reached(spark):
    """ADVICE r06: exhausting max_iter before the edge fixpoint must
    raise, never return a multi-label relation."""
    from rdbms_subsetter_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "doc_id_1 long, doc_id_2 long"
    )
    with pytest.raises(RuntimeError, match="fixpoint not reached"):
        connected_components(edges, algorithm="star", max_iter=1).collect()


def test_auto_planes_formula_matches_duckdb():
    """similarity.auto_planes_per_band and the oracle's params-CTE CASE
    expression are the same function, including at the power-of-two
    boundaries where a floor(log2) off-by-one would diverge."""
    from rdbms_subsetter_spark.operators.similarity import auto_planes_per_band

    con = duckdb.connect()
    ns = [0, 1, 15, 16, 17, 500, 2000, 2047, 2048, 2049]
    ns += [16 * 2**k + d for k in range(1, 41, 3) for d in (-1, 0, 1)]
    for n in ns:
        want = con.execute(
            f"SELECT CASE WHEN {n} < 16 THEN 8 ELSE "
            f"greatest(8, CAST(floor(log2({n} / 16.0)) AS INT) + 1) END"
        ).fetchone()[0]
        assert auto_planes_per_band(n) == want, n
    # the scaling contract itself: occupancy n/2^planes stays ~constant
    assert auto_planes_per_band(500) == 8
    assert auto_planes_per_band(128_000) == 13
    for n in (10**4, 10**6, 10**8):
        planes = auto_planes_per_band(n)
        assert 8 <= n / 2**planes <= 16 or planes == 8


def test_auto_planes_bit_identical_to_pinned_at_small_n(spark):
    """At corpus sizes where the formula resolves to the 8-plane floor
    (every graded SF), planes_per_band='auto' is bit-identical to the
    previously-pinned configuration — the flip cannot shift any graded
    hash."""
    from tests.conftest import SF_SMALL

    from rdbms_subsetter_spark.catalog import Catalog
    from rdbms_subsetter_spark.operators.similarity import cosine_near_dup_pairs

    emb = Catalog(spark, SF_SMALL)["embeddings"]
    auto = _canon(
        tuple(r)
        for r in cosine_near_dup_pairs(
            emb, threshold=0.4, dim=64, n_bands=8, planes_per_band="auto"
        ).collect()
    )
    pinned = _canon(
        tuple(r)
        for r in cosine_near_dup_pairs(
            emb, threshold=0.4, dim=64, n_bands=8, planes_per_band=8
        ).collect()
    )
    assert auto == pinned
