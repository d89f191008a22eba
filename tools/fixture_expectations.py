"""Independent derivations of the literal-fixture oracle values of
graph_pagerank_fixture (``rdbms_subsetter_spark.queries.similarity``)
and dedup_semdedup_fixture (``rdbms_subsetter_spark.queries.dedup``).

Run ``python tools/fixture_expectations.py`` to re-derive and print the
expected tables; neither derivation touches the Spark operators, so the
oracles are implementation-independent (numpy power iteration and a
brute-force float32-cosine mirror of the SemDeDup keep rule).  The only
shared piece is ``_lloyd_kmeans`` for cell ASSIGNMENT (the fixture
grades the keep rule given the cells; kmeans determinism itself is
covered by unit tests).
"""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def pagerank_expect() -> list[tuple[int, float]]:
    from rdbms_subsetter_spark.queries.similarity import _PR_EDGES

    n = 5
    A = np.zeros((n, n))
    for s, d in _PR_EDGES:
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
    return [(i, round(float(v), 8)) for i, v in enumerate(r)]


def semdedup_expect() -> list[tuple[int, int, int]]:
    from rdbms_subsetter_spark.operators.similarity import _lloyd_kmeans
    from rdbms_subsetter_spark.queries.dedup import _SD_VECS

    ids = np.array([i for i, _ in _SD_VECS])
    mat = np.array([v for _, v in _SD_VECS], dtype=np.float64)
    centers = _lloyd_kmeans(mat, k=3, iters=10, seed=42)
    cells = ((mat[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    # the operator ships unit vectors as float32 over Arrow; mirror that
    normed = (
        (mat / np.linalg.norm(mat, axis=1, keepdims=True))
        .astype(np.float32)
        .astype(np.float64)
    )
    out = []
    for c in sorted(np.unique(cells)):
        m = cells == c
        cid, cv = ids[m], normed[m]
        cos = cv @ cv.T
        dropped: set[int] = set()
        order = np.argsort(cid)
        for bi in order:
            for ai in order:
                if cid[ai] >= cid[bi]:
                    break
                if cos[ai, bi] >= 0.95:
                    dropped.add(int(cid[bi]))
                    break
        out.append((int(c), int(m.sum()), int(m.sum()) - len(dropped)))
    return out


def ivf_expect() -> list[tuple[int, int, float, int]]:
    """Brute-force 2-NN of queries {0,4,8} over the fixture corpus:
    float32-truncated unit vectors scored with a strict left-to-right
    float64 fold — the same IEEE operation sequence as the operator's
    ``dot`` column, so agreement is bit-exact, not approximate."""
    from rdbms_subsetter_spark.queries.dedup import _SD_VECS

    ids = [i for i, _ in _SD_VECS]
    mat = np.array([v for _, v in _SD_VECS], dtype=np.float64)
    unit = (
        (mat / np.linalg.norm(mat, axis=1, keepdims=True))
        .astype(np.float32)
        .astype(np.float64)
    )

    def leftfold(a, b) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    rows = []
    for q in (0, 4, 8):
        qi = ids.index(q)
        cands = sorted(
            (-round(leftfold(unit[qi], unit[j]), 6), nid)
            for j, nid in enumerate(ids)
            if nid != q
        )
        for rk, (negc, nid) in enumerate(cands[:2], start=1):
            rows.append((q, nid, -negc, rk))
    return rows


def srp_expect(n_planes: int = 3, k: int = 2) -> list[tuple[int, int, float, int]]:
    """Signed-random-projection top-k of queries {0,4,8} over the
    fixture corpus, mirrored end to end in plain Python/numpy: the
    seeded md5 plane stream (``similarity._plane``), the sign-bit
    signature, the same-bucket candidate rule, and the strict
    left-to-right float64 fold for dot products and norms — the same
    IEEE operation sequence as the operator's column expressions, so
    agreement is bit-exact."""
    import hashlib

    from rdbms_subsetter_spark.queries.dedup import _SD_VECS

    dim = 4
    seed = 42

    def plane(plane_id: int) -> list[float]:
        vals = []
        for i in range(dim):
            h = hashlib.md5(f"{seed}|{plane_id}|{i}".encode()).hexdigest()
            vals.append(int(h[:8], 16) / float(2**31) - 1.0)
        return vals

    def leftfold(a, b) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    ids = [i for i, _ in _SD_VECS]
    # array<float> storage truncates to float32 before the double fold
    vecs = [
        [float(np.float32(x)) for x in v] for _, v in _SD_VECS
    ]
    planes = [plane(p) for p in range(n_planes)]
    sig = [
        sum(2**p for p in range(n_planes) if leftfold(v, planes[p]) > 0)
        for v in vecs
    ]
    nrm = [float(np.sqrt(leftfold(v, v))) for v in vecs]
    rows = []
    for q in (0, 4, 8):
        qi = ids.index(q)
        # rank on the ROUNDED score with neighbor-id tiebreak — the
        # operator's window ordering; raw value kept for margin checks
        cands = sorted(
            (
                -round(leftfold(vecs[qi], vecs[j]) / (nrm[qi] * nrm[j]), 6),
                nid,
                leftfold(vecs[qi], vecs[j]) / (nrm[qi] * nrm[j]),
            )
            for j, nid in enumerate(ids)
            if nid != q and sig[j] == sig[qi]
        )
        for rk, (_negc, nid, raw) in enumerate(cands[:k], start=1):
            rows.append((q, nid, raw, rk))
    return rows


def srp_expect_rounded(n_planes: int = 3, k: int = 2):
    return [(q, n, round(c, 6), r) for q, n, c, r in srp_expect(n_planes, k)]


def pca_expect() -> list[tuple[int, int, float, float, float, float]]:
    """Top-2 PCA of the fixture corpus, mirrored step for step from
    ``similarity.pca_fit_project`` with a single partition: float32
    ingest, (n, Σx, ΣxᵀX) partials, covariance, ``np.linalg.eigh``,
    largest-|component|-positive sign rule, and the left-fold projection
    of the mean-centered vectors — identical IEEE sequences, so the
    4 dp / 6 dp roundings agree bit-exactly with the operator."""
    from rdbms_subsetter_spark.queries.dedup import _SD_VECS

    ids = [i for i, _ in _SD_VECS]
    mat = np.array([v for _, v in _SD_VECS], dtype=np.float32).astype(np.float64)
    n = mat.shape[0]
    s = mat.sum(axis=0)
    ss = mat.T @ mat
    mean = s / n
    cov = ss / n - np.outer(mean, mean)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:2]
    total_var = float(vals.sum())
    basis, evr = [], []
    for idx in order:
        v = vecs[:, idx]
        if v[np.abs(v).argmax()] < 0:
            v = -v
        basis.append(v)
        evr.append(round(float(vals[idx]) / total_var, 6))

    def leftfold_arr(a) -> float:
        acc = 0.0
        for x in a:
            acc += x
        return acc

    rows = []
    for i, vid in enumerate(ids):
        centered = mat[i] - mean
        pcs = [leftfold_arr(centered * b) for b in basis]
        rows.append((vid, vid % 3, pcs[0], evr[0], pcs[1], evr[1]))
    return rows


def pca_expect_rounded():
    return [
        (vid, lb, round(p1, 4), e1, round(p2, 4), e2)
        for vid, lb, p1, e1, p2, e2 in pca_expect()
    ]


if __name__ == "__main__":
    print("pagerank:", pagerank_expect())
    print("semdedup:", semdedup_expect())
    print("ivf:", ivf_expect())
    print("srp:", srp_expect_rounded())
    print("pca:", pca_expect_rounded())
