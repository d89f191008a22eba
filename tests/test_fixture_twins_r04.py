"""Round-4 fixture twins: independent derivations + rounding margins.

The hash-graded twins for the rows-only trio (``ann_srp_bucketed``,
``embed_pca_project``, ``agg_approx_sketches``) bake literal expected
values into their oracles.  These tests pin (a) that the baked literals
equal the independent mirror derivations in
``tools/fixture_expectations.py``, and (b) that every rounded literal
sits far from a rounding boundary, so Spark's HALF_UP ``F.round`` and
Python's banker's ``round`` provably agree and the hash cannot drift
across processes or libm versions.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tools.fixture_expectations import (  # noqa: E402
    pca_expect,
    pca_expect_rounded,
    srp_expect,
    srp_expect_rounded,
)


def _boundary_margin(x: float, decimals: int) -> float:
    """Distance (in value units) from the nearest half-way rounding
    boundary at ``decimals`` places."""
    scaled = abs(x) * 10**decimals
    frac = scaled - int(scaled)
    return abs(frac - 0.5) / 10**decimals


def test_srp_fixture_literals_match_mirror():
    from rdbms_subsetter_spark.queries.similarity import _SRP_EXPECT

    assert srp_expect_rounded() == _SRP_EXPECT


def test_pca_fixture_literals_match_mirror():
    from rdbms_subsetter_spark.queries.similarity import _PCA_EXPECT

    assert pca_expect_rounded() == _PCA_EXPECT


def test_srp_rounding_margins():
    # exact-1.0 cosines scale to an integer — no boundary to sit on
    margins = [
        _boundary_margin(c, 6) for _, _, c, _ in srp_expect() if c != 1.0
    ]
    assert min(margins) > 1e-10, margins


def test_pca_rounding_margins():
    margins = []
    for _, _, p1, _, p2, _ in pca_expect():
        margins.append(_boundary_margin(p1, 4))
        margins.append(_boundary_margin(p2, 4))
    assert min(margins) > 1e-8, margins


def test_srp_fixture_operator_agrees(spark):
    """The Spark operator reproduces the mirror bit-for-bit on the
    fixture (the parity suite checks this against the SQL oracle too;
    this is the direct operator-vs-mirror pin)."""
    from rdbms_subsetter_spark.queries.similarity import q_ann_srp_fixture

    got = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in q_ann_srp_fixture(spark, "unused").collect()
    )
    assert got == sorted(srp_expect_rounded())


def test_pca_fixture_operator_agrees(spark):
    from rdbms_subsetter_spark.queries.similarity import q_embed_pca_fixture

    got = sorted(
        (r["vec_id"], r["label"], r["pc1"], r["evr1"], r["pc2"], r["evr2"])
        for r in q_embed_pca_fixture(spark, "unused").collect()
    )
    assert got == sorted(pca_expect_rounded())


def test_sketch_bounds_all_true_every_sf(spark):
    """Every accuracy boolean is TRUE at EVERY scale factor present
    under the testdata root — the same assertion the driver's hash gate
    makes against the literal-TRUE oracle, automated across scales so
    grading at a scale factor the bound was never hand-verified on
    cannot silently flip it (ADVICE r04)."""
    import glob
    import os

    from tests.conftest import SF_SMALL

    from rdbms_subsetter_spark.queries.sql import q_agg_sketch_error_bounds

    root = os.path.dirname(SF_SMALL.rstrip("/"))
    sf_dirs = sorted(
        d for d in glob.glob(os.path.join(root, "sf*"))
        if os.path.exists(os.path.join(d, "lineitem.parquet"))
    ) or [SF_SMALL]
    for sf_dir in sf_dirs:
        rows = q_agg_sketch_error_bounds(spark, sf_dir).collect()
        assert rows, sf_dir
        for r in rows:
            assert r["supp_ok"] and r["part_ok"] and r["median_ok"], (sf_dir, r)
