"""CI guard for scale-linearity: the superlinearity analog of
test_scale_plans.py.

tools/scale_stress.py measures RUNTIME ratios at ×8/×64 out-of-band;
wall-clock in CI is noise-prone, so these tests assert the
deterministic quantities that drive those runtimes — candidate/pair
VOLUMES on a small ×4 corpus built with the same density-preserving
transforms the harness uses (tools.scale_stress.scaled_copies).  Each
assertion is calibrated to fail on the bug class it guards:

* the round-6 minhash KM-correlation bug made verified pair counts
  grow quadratically (98% false positives at sf0.1) — the ×4 pair
  budget here fails under it;
* an uncapped (or mis-capped) shingle join's candidate volume grows
  with Σ df² — the capped volume budget fails if the cap stops being
  applied;
* a pinned SRP plane count lets bucket-pair volume grow quadratically —
  the auto-planes budget fails if the count()-scaling is dropped.
"""

import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_BENCH, SF_SMALL

X4 = 4


@pytest.fixture(scope="module")
def docs_x1(spark):
    from rdbms_subsetter_spark.catalog import Catalog

    return Catalog(spark, SF_SMALL)["documents"].localCheckpoint(eager=True)


@pytest.fixture(scope="module")
def docs_x4(spark, docs_x1):
    from tools.scale_stress import permute_doc_text, scaled_copies

    return scaled_copies(docs_x1, X4, ["doc_id"], permute_doc_text).localCheckpoint(
        eager=True
    )


def test_minhash_verified_pairs_scale_linearly(spark, docs_x1, docs_x4):
    """True-Jaccard-verified LSH pairs on ×4 disjoint permuted copies
    stay within the linear budget.  The r6 correlated-estimator bug
    (signature-agreement verification) reported est≈1.0 for any two
    docs sharing one argmin-dominant shingle — quadratic false-positive
    growth that blows this budget immediately."""
    from rdbms_subsetter_spark.operators.dedup import minhash_lsh_pairs

    p1 = minhash_lsh_pairs(docs_x1, num_hashes=16, bands=4, threshold=0.5).count()
    p4 = minhash_lsh_pairs(docs_x4, num_hashes=16, bands=4, threshold=0.5).count()
    assert p1 > 0  # the corpus plants exact dups; recall sanity
    # each copy contributes its own pairs; permutation adds no cross-
    # copy near-dups, so linear means ≈ X4·p1 (generous 1.5× headroom)
    assert p4 <= X4 * p1 * 1.5 + 8, f"superlinear pair growth: {p1} -> {p4}"
    assert p4 >= X4 * p1 * 0.75, f"recall collapsed: {p1} -> {p4}"


def _capped_candidate_volume(docs, cap):
    """Σ_shingle C(min-capped df, 2): the exact row count the capped
    inverted-index self-join produces before grouping."""
    from rdbms_subsetter_spark.operators.dedup import shingles

    dfreq = shingles(docs, 3, hashed=True).groupBy("shingle").agg(
        F.count(F.lit(1)).alias("df")
    )
    if cap is not None:
        dfreq = dfreq.filter(F.col("df") <= cap)
    return (
        dfreq.agg(F.sum(F.col("df") * (F.col("df") - 1) / 2).alias("v")).collect()[0][
            "v"
        ]
        or 0
    )


def test_capped_jaccard_candidate_volume_bounded(spark, docs_x1):
    """The df cap's guarantee is an ABSOLUTE bound, not a growth rate:
    Σ_shingle C(min-capped df, 2) ≤ cap/2 · (total shingle rows), i.e.
    candidate volume is linear in corpus size BY CONSTRUCTION once df
    crosses the cap.  Asserted on a plain ×4 duplication (every df
    exactly ×4 — the worst case the density-preserving harness
    transform deliberately avoids): uncapped volume grows ~16× while
    capped volume stays under its linear ceiling and strictly below
    uncapped.  Fails if the cap filter stops being applied."""
    from rdbms_subsetter_spark.operators.dedup import shingles
    from rdbms_subsetter_spark.queries.dedup import NGRAM_MAX_DOC_FREQ
    from tools.scale_stress import scaled_copies

    docs_dup4 = scaled_copies(docs_x1, X4, ["doc_id"]).localCheckpoint(eager=True)
    cap = NGRAM_MAX_DOC_FREQ
    c1 = _capped_candidate_volume(docs_x1, cap)
    c4 = _capped_candidate_volume(docs_dup4, cap)
    u1 = _capped_candidate_volume(docs_x1, None)
    u4 = _capped_candidate_volume(docs_dup4, None)
    rows1 = shingles(docs_x1, 3, hashed=True).count()
    rows4 = shingles(docs_dup4, 3, hashed=True).count()
    assert c1 > 0
    # the mathematically guaranteed linear ceiling, at both scales
    assert c1 <= cap / 2 * rows1
    assert c4 <= cap / 2 * rows4
    # exact duplication quadruples every df: uncapped df² mass ≈ ×16,
    # and the cap must cut hot shingles (base df ≥ 5 → 4·df > 16)
    assert u4 / u1 > X4 * 3
    assert c4 < u4


def _srp_bucket_pair_volume(emb, planes_per_band, n_bands=8, dim=64, seed=42):
    """Σ over (band, bucket) of C(size, 2) — the LSH self-join's exact
    candidate row count for a given plane count."""
    from rdbms_subsetter_spark.operators.similarity import srp_signature

    total = 0
    for b in range(n_bands):
        sizes = (
            emb.select(
                srp_signature(
                    F.col("embedding"), dim, planes_per_band, seed,
                    plane_offset=b * planes_per_band,
                ).alias("bucket")
            )
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("v"))
            .collect()[0]["v"]
        )
        total += sizes or 0
    return total


def test_srp_auto_planes_bound_bucket_volume(spark):
    """auto_planes_per_band keeps SRP bucket-pair volume ~linear in
    corpus size where a pinned plane count grows it quadratically.
    Uses sf0.1 embeddings (2000 vecs, auto=8 planes) vs their ×4 copy
    set (8000 vecs, auto=9 planes).  Fails if the graded entry reverts
    to a pinned count."""
    from rdbms_subsetter_spark.catalog import Catalog
    from rdbms_subsetter_spark.operators.similarity import auto_planes_per_band
    from tools.scale_stress import regenerate_vectors, scaled_copies

    # sf0.1 on purpose (NOT SF_SMALL): the (8, 9) auto-planes assertion
    # below needs the 2000-vector corpus size
    e1 = Catalog(spark, SF_BENCH)["embeddings"].localCheckpoint(eager=True)
    e4 = scaled_copies(e1, X4, ["vec_id"], regenerate_vectors).localCheckpoint(
        eager=True
    )
    n1, n4 = e1.count(), e4.count()
    a1, a4 = auto_planes_per_band(n1), auto_planes_per_band(n4)
    assert (a1, a4) == (8, 9)  # the formula must scale between these sizes
    v1 = _srp_bucket_pair_volume(e1, a1)
    v4_auto = _srp_bucket_pair_volume(e4, a4)
    v4_pinned = _srp_bucket_pair_volume(e4, a1)
    assert v1 > 0
    # pinned planes: volume ≈ quadratic (≈16× at ×4); auto: ≈ halved by
    # the extra plane, back inside the linear budget
    assert v4_auto < v4_pinned
    assert v4_auto / v1 <= X4 * 2.5, f"auto-planes volume superlinear: {v4_auto / v1:.1f}x"
    assert v4_pinned / v1 >= X4 * 2.5  # the guard itself is non-vacuous


def test_minhash_candidate_buckets_bounded_under_hot_shingle(spark):
    """Deterministic tripwire for the KM-correlated-signature bug class
    that bit THREE times (r6 verification, r7 candidate megabuckets in
    minhash_lsh + cross-corpus): the older guards watch VERIFIED pair
    counts, which true-Jaccard verification keeps correct even while
    candidates explode, so a reverted signature scheme would only
    surface as a ×64 wall-clock timeout.  This asserts the upstream
    quantity — band-bucket sizes / candidate volume out of
    ``minhash_signatures`` — on a corpus crafted to detonate under any
    Kirsch–Mitzenmacher-style derivation.

    Construction: one hot token planted in EVERY doc, chosen as the
    argmin of unsalted ``md5[:15]`` over the whole token pool.  Under
    KM (h_i = h1 + i·(h2 mod 2⁴⁰) mod 2⁶⁰, i ≤ 15) the perturbation
    ~2⁴⁴ cannot overcome the ~2⁴⁸ argmin gap, so the hot token is every
    doc's argmin for every i → ALL docs share the full signature → one
    mega-bucket per band (the r7 ×64 failure: 642 docs, 174M pairs).
    Under k INDEPENDENT salted md5s the hot token wins a given salt
    with p≈1/31 independently, so 4-hash band agreement between two
    otherwise-disjoint docs is ~(1/31)⁴-rare and buckets stay tiny.
    The KM mega-bucket is recomputed here with a hashlib replica as the
    positive control proving the corpus is actually adversarial."""
    import hashlib

    from rdbms_subsetter_spark.operators.dedup import _band_rows, minhash_signatures

    n_docs, per_doc = 150, 30
    pool = [f"w{i:04d}" for i in range(n_docs * per_doc + 101)]
    km_h1 = {t: int(hashlib.md5(t.encode()).hexdigest()[:15], 16) for t in pool}
    hot = min(pool, key=km_h1.get)
    fillers = [t for t in pool if t != hot]
    doc_toks = [
        [hot] + fillers[j * per_doc : (j + 1) * per_doc] for j in range(n_docs)
    ]
    docs = spark.createDataFrame(
        [(j, " ".join(ts)) for j, ts in enumerate(doc_toks)],
        "doc_id long, text string",
    )

    # --- positive control: the KM replica mega-buckets on this corpus
    def km_sig(toks):
        out = []
        for i in range(16):
            best = None
            for t in toks:
                hx = hashlib.md5(t.encode()).hexdigest()
                h1, h2 = int(hx[:15], 16), int(hx[15:30], 16)
                v = (h1 + i * (h2 % (1 << 40))) % (1 << 60)
                best = v if best is None else min(best, v)
            out.append(best)
        return tuple(out)

    km_sigs = [km_sig(ts) for ts in doc_toks]
    for band in range(4):
        buckets = {}
        for s in km_sigs:
            buckets.setdefault(s[band * 4 : band * 4 + 4], []).append(1)
        assert max(len(v) for v in buckets.values()) == n_docs  # one mega-bucket

    # --- the guard: independent salted signatures keep buckets tiny
    sig = minhash_signatures(docs, num_hashes=16, n=1)
    sizes = (
        _band_rows(sig, 16, 4)
        .groupBy("band", "b0", "b1", "b2", "b3")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    row = sizes.agg(
        F.max("sz").alias("mx"),
        F.sum(F.col("sz") * (F.col("sz") - 1) / 2).alias("cand"),
    ).collect()[0]
    # KM would score mx=150, cand=4·C(150,2)=44700 — far over budget
    assert row["mx"] <= 4, f"band mega-bucket: max bucket {row['mx']}"
    assert (row["cand"] or 0) <= 32, f"candidate volume blew up: {row['cand']}"


def test_star_cc_round_budget_on_chain(spark):
    """Star contraction resolves a diameter-255 path within a
    logarithmic round budget — measured log2(n)+1 rounds exactly
    (n=16→5, 64→7, 256→9), budgeted log2(n)+2 here — where minlabel
    propagation needs ~diameter rounds (255).  The max_iter raise
    (ADVICE r06) makes this a hard failure if contraction regresses to
    diameter-bound behavior."""
    from rdbms_subsetter_spark.operators.dedup import connected_components

    n = 256
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_id_1 long, doc_id_2 long"
    )
    got = connected_components(edges, algorithm="star", max_iter=10).collect()
    assert len(got) == n
    assert {r["cluster_id"] for r in got} == {0}
    assert all(r["cluster_size"] == n for r in got)


def test_substring_candidate_volume_capped_under_boilerplate(spark):
    """Deterministic tripwire for the substring-dedup candidate stage
    (VERDICT r08 defect #2): candidate volume is Σ_cls C(doc-df, 2),
    so a boilerplate-heavy corpus — every doc ending in the same
    ≥8-token license footer — detonates the footer's run classes into
    C(n_docs, 2) pairs unless ``max_run_freq`` drops them.  The graded
    entry pins the cap at 16 (queries/dedup.py, oracle in lockstep);
    reverting that pin, or breaking the cap's left_anti application,
    fails this test immediately instead of surfacing as a ×64
    wall-clock timeout.

    Corpus: 60 docs with disjoint 24-token bodies + one shared 10-token
    footer, plus one genuinely duplicated 12-token sentence planted in
    docs 0 and 1 (recall control: the cap must NOT lose real dups that
    share any non-boilerplate run)."""
    from rdbms_subsetter_spark.operators.dedup import (
        substring_candidates,
        substring_dedup_pairs,
    )

    n_docs, body_len = 60, 24
    footer = " ".join(f"lic{i}" for i in range(10))
    dup_sentence = " ".join(f"dup{i}" for i in range(12))
    rows = []
    for j in range(n_docs):
        body = " ".join(f"b{j:03d}x{i:02d}" for i in range(body_len))
        # planted dup leads the doc (NOT adjacent to the footer, which
        # would legitimately extend the true longest shared run)
        lead = f"{dup_sentence} " if j in (0, 1) else ""
        rows.append((j, f"{lead}{body} {footer}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # positive control: the corpus IS adversarial — uncapped candidates
    # include every doc pair via the footer classes (≥ C(60,2) = 1770)
    uncapped = substring_candidates(docs, min_len=8, max_run_freq=None).count()
    assert uncapped >= n_docs * (n_docs - 1) // 2, f"corpus not adversarial: {uncapped}"

    # the guard: with the graded cap the footer classes (df=60 > 16)
    # are dropped and only the planted real dup survives as a candidate
    capped = substring_candidates(docs, min_len=8, max_run_freq=16).count()
    assert capped <= 4, f"cap not applied — candidate volume {capped}"

    # recall control: the planted 12-token duplicate still comes out of
    # the full capped operator with its exact run length
    pairs = substring_dedup_pairs(docs, min_len=8, max_run_freq=16).collect()
    assert [(r["doc_id_1"], r["doc_id_2"], r["lcs_len"]) for r in pairs] == [(0, 1, 12)]


def test_graded_substring_entry_pins_the_cap(spark):
    """The graded dedup_substring_exact entry must keep max_run_freq
    pinned (an accidental revert to None re-opens the quadratic path
    while every graded SF stays green, since the cap is inert there).
    Asserted on the same boilerplate corpus by calling the graded
    wiring's constants directly."""
    from rdbms_subsetter_spark.queries.dedup import _SUBSTR_MAX_RUN_FREQ, _SQL_SUBSTRING_EXACT

    assert _SUBSTR_MAX_RUN_FREQ is not None and 1 <= _SUBSTR_MAX_RUN_FREQ <= 64
    # the oracle must carry the SAME cap (lockstep contract)
    assert f"df <= {_SUBSTR_MAX_RUN_FREQ}" in _SQL_SUBSTRING_EXACT


def test_simhash_candidate_volume_capped_under_near_identical_corpus(spark):
    """Deterministic tripwire for the simhash candidate stage (VERDICT
    r09 defect #2): candidates equi-join on (chunk, 16-bit chunk-value)
    with volume Σ_bucket C(df, 2), so a corpus of near-identical docs —
    all four signature chunks equal — detonates one bucket into
    C(n_docs, 2) pairs unless ``max_bucket_freq`` drops it.  Same valve
    pattern as the jaccard family's ``max_doc_freq`` and the substring
    family's ``max_run_freq``.

    Corpus: 60 docs with IDENTICAL boilerplate text (ids 100..159,
    identical signatures → 4 hot buckets of df=60) plus one genuine
    near-dup pair (ids 0 and 1, identical to each other but disjoint
    vocabulary from the boilerplate → their buckets hold df=2 and must
    SURVIVE the cap)."""
    from rdbms_subsetter_spark.operators.dedup import (
        simhash_candidates,
        simhash_pairs,
    )

    boiler = " ".join(f"boiler{i:02d}" for i in range(40))
    pair_text = " ".join(f"pairtok{i:02d}" for i in range(40))
    rows = [(0, pair_text), (1, pair_text)]
    rows += [(100 + j, boiler) for j in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # positive control: the corpus IS adversarial — uncapped candidates
    # include every boilerplate pair (≥ C(60,2) = 1770)
    uncapped = simhash_candidates(docs, max_bucket_freq=None).count()
    assert uncapped >= 60 * 59 // 2, f"corpus not adversarial: {uncapped}"

    # the guard: with the cap the df=60 buckets are dropped and only
    # the df=2 near-dup pair survives as a candidate
    capped = simhash_candidates(docs, max_bucket_freq=16).count()
    assert capped == 1, f"cap not applied — candidate volume {capped}"

    # recall control: the surviving pair verifies at hamming 0 through
    # the full capped operator
    got = simhash_pairs(docs, max_hamming=3, max_bucket_freq=16).collect()
    assert [(r["doc_id_1"], r["doc_id_2"], r["hamming"]) for r in got] == [(0, 1, 0)]


def test_simhash_pairs_uncapped_default_stays_exact(spark):
    """max_bucket_freq defaults to None so the pigeonhole-exactness
    property (test_round5_property.py) keeps holding for the default
    form; the capped form must be a subset of the uncapped one."""
    from rdbms_subsetter_spark.operators.dedup import simhash_pairs

    rows = [
        (i, " ".join(f"w{i}x{j}" for j in range(12)) + " common common2 common3")
        for i in range(8)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    full = {(r[0], r[1]) for r in simhash_pairs(docs, max_hamming=10).collect()}
    capped = {
        (r[0], r[1])
        for r in simhash_pairs(docs, max_hamming=10, max_bucket_freq=3).collect()
    }
    assert capped <= full


def test_recall_audit_degenerate_corpus_is_false_not_null(spark):
    """ADVICE r09: with an empty audit-query set the exact side has 0
    pairs and __hits/__pairs is NULL — the audit must emit a
    deterministic FALSE (clear signal) instead of a NULL that would
    surface as an opaque hash mismatch against the oracle's TRUE."""
    from rdbms_subsetter_spark.queries.similarity import _recall_audit

    emb = spark.createDataFrame(
        [(1, [1.0] * 4), (2, [0.5] * 4)], "vec_id long, embedding array<float>"
    )
    queries = emb.filter(F.col("vec_id") < 0)  # empty
    ann = spark.createDataFrame([], "query_id long, neighbor_id long")
    row = _recall_audit(emb, ann, queries, floor=0.2, k=3).collect()[0]
    assert row["n_exact_pairs"] == 0
    assert row["recall_ok"] is False


def test_graded_simhash_pairs_entry_pins_the_cap(spark):
    """The graded dedup_simhash_pairs entry must keep max_bucket_freq
    pinned (a revert to None re-opens the quadratic bucket path while
    every graded SF stays green, since the cap is inert there) and the
    oracle must carry the SAME cap (lockstep contract)."""
    from rdbms_subsetter_spark.queries.dedup import _SIMHASH_MAX_BUCKET_FREQ, _simhash_pairs_oracle

    assert _SIMHASH_MAX_BUCKET_FREQ is not None and 1 <= _SIMHASH_MAX_BUCKET_FREQ <= 64
    assert f"df <= {_SIMHASH_MAX_BUCKET_FREQ}" in _simhash_pairs_oracle(64)


def test_containment_cap_drops_universal_boilerplate(spark):
    """Round-10: the graded dedup_ngram_containment entry pins the
    family df cap — tripwire on the shared-footer shape: 40 docs each
    carrying the same 6-token footer (4 hot trigrams, df=40 > 16)
    plus one genuine quote-inclusion pair (doc 1's full body quoted
    inside doc 2's longer text; their shingles df=2 survive).  The
    uncapped operator pairs every doc with every doc through the
    footer's shared CANDIDATES (containment stays below threshold for
    unrelated docs, so the quadratic cost hides in the join, not the
    output); the capped operator never generates those candidate rows
    AND still finds the real inclusion."""
    from rdbms_subsetter_spark.operators.dedup import ngram_containment_pairs

    footer = " ".join(f"lic{i}" for i in range(6))
    quote = " ".join(f"quo{i}" for i in range(10))
    rows = []
    for j in range(40):
        body = " ".join(f"b{j:03d}x{i:02d}" for i in range(10))
        if j == 1:
            rows.append((j, f"{quote} {footer}"))
        elif j == 2:
            # contains doc 1's ENTIRE text (quote+footer) contiguously,
            # so every one of doc 1's cap-surviving shingles (quote +
            # quote→footer boundary) appears in doc 2
            rows.append((j, f"{body} {quote} {footer}"))
        else:
            rows.append((j, f"{body} {footer}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = sorted(
        (r["contained_id"], r["container_id"])
        for r in ngram_containment_pairs(
            docs, n=3, threshold=0.9, max_doc_freq=16
        ).collect()
    )
    # doc 1 = quote+footer; with the footer's hot trigrams dropped,
    # doc 1's remaining shingles are the quote's, all inside doc 2
    assert (1, 2) in got
    # no unrelated doc pairs survive (bodies are disjoint)
    assert all(p == (1, 2) or 1 in p or 2 in p for p in got)

    # graded wiring pins the cap: oracle text carries the capped CTE
    from rdbms_subsetter_spark.queries.dedup import NGRAM_MAX_DOC_FREQ, _containment_cte

    assert f"count(*) <= {NGRAM_MAX_DOC_FREQ}" in _containment_cte()
