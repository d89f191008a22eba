"""Round-9 hardening: BLAS thread discipline in Arrow kernels.

The round-8 driver bench breached the 2x gate on exactly the
numpy/BLAS entries (knn_graph_degree 4.7x, ann_ivf_topk 2.3x, ...).
Root cause measured in this round: numpy's bundled OpenBLAS defaults
its pool to ncpu (32 here), so 32 concurrent Python workers ran up to
1024 BLAS threads on 32 CPUs.  ``rdbms_subsetter_spark._blas`` caps
the pool to 1 thread per worker; these tests pin that contract.
"""

import inspect
import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_openblas_threads() -> int | None:
    """Current OpenBLAS pool size of THIS process, or None if no
    OpenBLAS is loaded — the read-back for the cap under test."""
    import ctypes

    from rdbms_subsetter_spark._blas import _openblas_candidates

    for path in _openblas_candidates():
        try:
            dll = ctypes.CDLL(path)
        except OSError:
            continue
        for sym in ("openblas_get_num_threads64_", "openblas_get_num_threads"):
            fn = getattr(dll, sym, None)
            if fn is not None:
                fn.restype = ctypes.c_int
                return int(fn())
    return None


#: its source, for the processes that cannot import this test module
#: (the fresh interpreter below and Spark's Python workers)
_GET_THREADS_SRC = inspect.getsource(get_openblas_threads)


def test_env_defaults_set_on_package_import():
    """Importing the package before numpy must default every BLAS
    pool-size env var to 1 (fresh process so this test is order-proof)."""
    code = textwrap.dedent(
        """
        import os
        import rdbms_subsetter_spark  # noqa: F401
        from rdbms_subsetter_spark._blas import BLAS_ENV_VARS
        assert all(os.environ.get(v) == "1" for v in BLAS_ENV_VARS), \
            {v: os.environ.get(v) for v in BLAS_ENV_VARS}
        """
    )
    env = {k: v for k, v in os.environ.items() if "NUM_THREADS" not in k}
    env["PYTHONPATH"] = REPO
    subprocess.run([sys.executable, "-c", code], check=True, env=env, timeout=120)


def test_limit_blas_threads_caps_live_pool():
    """Even when numpy initialises its pool FIRST (env unset, the
    driver-owned-session scenario), the ctypes call must cap it."""
    code = _GET_THREADS_SRC + textwrap.dedent(
        """
        import numpy as np
        a = np.random.rand(64, 64); _ = a @ a  # force pool init at default
        from rdbms_subsetter_spark._blas import limit_blas_threads
        before = get_openblas_threads()
        assert before is not None
        limit_blas_threads()
        after = get_openblas_threads()
        assert after == 1, (before, after)
        _ = a @ a  # matmul still works single-threaded
        """
    )
    env = {k: v for k, v in os.environ.items() if "NUM_THREADS" not in k}
    env["PYTHONPATH"] = REPO
    subprocess.run([sys.executable, "-c", code], check=True, env=env, timeout=120)


def test_blas_capped_inside_spark_workers(spark):
    """End-to-end: a mapInPandas kernel that applies the cap must see a
    1-thread OpenBLAS pool in EVERY worker process — including under
    PARITY_VANILLA sessions where no executorEnv was configured."""
    from pyspark.sql import functions as F

    df = spark.range(0, 64, 1, 8)
    src = _GET_THREADS_SRC

    def probe(batches):
        import pandas as pd

        from rdbms_subsetter_spark._blas import limit_blas_threads

        ns: dict = {}
        exec(src, ns)
        limit_blas_threads()
        for pdf in batches:
            yield pd.DataFrame(
                {"pid": [os.getpid()], "threads": [ns["get_openblas_threads"]() or -1]}
            )

    out = (
        df.mapInPandas(probe, "pid long, threads int")
        .groupBy("threads")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert [r["threads"] for r in out] == [1], out


def test_srp_banding_improves_recall_and_dedups_pairs(spark):
    """Round-9 banded SRP (srp_topk n_bands>1): recall against the
    exact cosine top-5 must strictly improve over the single-signature
    form (the whole point of banding), and a pair agreeing in several
    bands must be scored/ranked once (no duplicate (query, neighbor)
    rows, ranks contiguous 1..k)."""
    from pyspark.sql import functions as F

    from rdbms_subsetter_spark.catalog import Catalog
    from rdbms_subsetter_spark.operators import similarity
    from tests.conftest import SF_SMALL

    emb = Catalog(spark, SF_SMALL)["embeddings"]
    q = emb.filter(F.col("vec_id") % 10 == 0)
    exact = similarity.cosine_topk(emb, q, k=5).select("query_id", "neighbor_id")

    def overlap(ann):
        a = ann.select(F.col("query_id").alias("__q"), F.col("neighbor_id").alias("__n"))
        return exact.join(
            a, (exact["query_id"] == a["__q"]) & (exact["neighbor_id"] == a["__n"])
        ).count()

    one = similarity.srp_topk(emb, q, dim=64, k=5, n_planes=5, n_bands=1)
    four = similarity.srp_topk(emb, q, dim=64, k=5, n_planes=5, n_bands=4)
    assert overlap(four) > overlap(one)

    rows = four.collect()
    pairs = [(r["query_id"], r["neighbor_id"]) for r in rows]
    assert len(pairs) == len(set(pairs)), "band-duplicated pair survived"
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_q.values())


def test_streaming_asof_enrich_equals_batch_asof(spark):
    """The stateless stream-static as-of enrichment must emit exactly
    the batch as-of join on the same (purchase-events x orders) input —
    the bounded-replay ≡ batch contract every streaming entry rests on,
    asserted here against the INDEPENDENT batch strategy
    (joins.asof_join's union+window) rather than the oracle."""
    from pyspark.sql import functions as F

    from rdbms_subsetter_spark.catalog import Catalog
    from rdbms_subsetter_spark.operators import joins
    from rdbms_subsetter_spark.queries.events import q_streaming_asof_enrich
    from tests.conftest import SF_SMALL

    got = {
        r["event_id"]: (r["asof_orderkey"], r["asof_cents"])
        for r in q_streaming_asof_enrich(spark, SF_SMALL).collect()
    }

    cat = Catalog(spark, SF_SMALL)
    ev = cat["events"].filter(F.col("event_type") == "purchase")
    orders = cat["orders"].select(
        "o_custkey",
        "o_orderkey",
        F.to_timestamp("o_orderdate").alias("o_ts"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("o_cents"),
    )
    want_df = joins.asof_join(
        ev.select("event_id", "user_id", "ts"),
        orders,
        on=[("user_id", "o_custkey")],
        left_ts="ts",
        right_ts="o_ts",
        payload=["o_orderkey", "o_cents"],
        tiebreak="o_orderkey",
    )
    want = {
        r["event_id"]: (r["o_orderkey"], r["o_cents"]) for r in want_df.collect()
    }
    assert got == want and len(got) > 0


def test_streaming_asof_enrich_is_stateless(spark):
    """The operator's headline scale property: ZERO stateful operators
    in the streaming query (the as-of pick is static-side shaping +
    codegen array algebra, not stream state).  Asserted from the
    finished query's own progress report — a stateful regression (e.g.
    someone 'fixing' it with a stream-side window) flips the count."""
    from rdbms_subsetter_spark.queries.events import q_streaming_asof_enrich
    from tests.conftest import SF_SMALL

    progress: dict = {}
    out = q_streaming_asof_enrich(spark, SF_SMALL, progress_out=progress)
    assert out.count() > 0
    assert progress.get("n_state_operators") == 0, progress


def test_udf_entry_runs_from_another_cwd(tmp_path):
    """Python workers import the package whatever the driver's cwd:
    ``get_spark`` puts the package root on the workers' PYTHONPATH.  A
    UDF entry run from outside the repo, with PYTHONPATH unset and the
    package reachable only through the driver's ``sys.path``, used to
    fail in the workers with ModuleNotFoundError."""
    from tests.conftest import SF_SMALL

    code = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from rdbms_subsetter_spark.queries import QUERIES
        from rdbms_subsetter_spark.session import get_spark

        spark = get_spark("worker-path")
        assert QUERIES["knn_graph_blocked"](spark, {SF_SMALL!r}).count() > 0
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="2g")
    proc = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
