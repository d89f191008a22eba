"""BLAS thread discipline for Arrow kernels.

Why this exists: the engine runs numpy/BLAS matmul kernels inside
``mapInPandas``/``applyInPandas`` tasks.  On ``local[32]`` that is up
to 32 concurrent Python workers, and the OpenBLAS bundled with numpy
spawns its own thread pool per process — N workers x M BLAS threads
oversubscribes the box and turns ambient load into multi-x wall-clock
swings (the round-8 driver bench showed 4-8x variance concentrated in
exactly the BLAS kernels: knn_graph_degree, ann_ivf_topk, semdedup).
On a real cluster the same math holds per executor: task slots x BLAS
threads must not exceed the executor's cores.

The fix is the standard one: one BLAS thread per task.  Spark already
provides the task-level parallelism; intra-op BLAS threading on top of
it is pure oversubscription.  ``threadpoolctl`` is not in this
environment, so we do it two ways:

1. Environment defaults (``OPENBLAS_NUM_THREADS=1`` etc.), set at
   package import and exported to executors via ``spark.executorEnv``
   in :func:`rdbms_subsetter_spark.session.get_spark` — effective when
   the Python worker starts before numpy loads.
2. :func:`limit_blas_threads` — a ctypes call to
   ``openblas_set_num_threads`` on the ALREADY-LOADED OpenBLAS shared
   object (numpy bundles it under ``numpy.libs/``).  This is the
   load-bearing path when the driver hands us a session we did not
   create (the grading driver does), because ``spark.executorEnv`` is
   a static conf we cannot retrofit.  Every hot Arrow kernel calls
   this first; it is cached per process so reused workers pay once.

Env vars are ``setdefault`` only — an operator who deliberately set a
higher cap keeps it.

Import-time scope (ADVICE r09): the env defaults run when this package
is imported, which mutates process-global state for any HOST
application that embeds the library — setdefault-only, but it could
silently single-thread unrelated numpy/OpenMP work in that host.  The
engine's own entrypoints (CLI, bench, the driver contract) all want
the cap, so the default stays; an embedding application that does not
can either pre-set any of the env vars (setdefault then never fires)
or set ``SPARK_GRAFT_NO_BLAS_ENV=1`` before import to skip the
defaults entirely (the per-kernel ctypes cap inside Arrow tasks is
unaffected — it only ever runs in Spark worker processes).
"""

from __future__ import annotations

import ctypes
import glob
import os

#: The usual suspects; harmless to set for pools that are not present.
BLAS_ENV_VARS = (
    "OPENBLAS_NUM_THREADS",
    "OMP_NUM_THREADS",
    "MKL_NUM_THREADS",
    "NUMEXPR_NUM_THREADS",
    "VECLIB_MAXIMUM_THREADS",
)


def set_blas_env_defaults(n: int = 1) -> None:
    """Default every known BLAS/OpenMP pool-size env var to ``n``.

    Only effective if the pool has not initialised yet in this
    process; see :func:`limit_blas_threads` for the post-load path.
    No-op when ``SPARK_GRAFT_NO_BLAS_ENV=1`` (embedding-application
    escape hatch — see the module docstring).
    """
    if os.environ.get("SPARK_GRAFT_NO_BLAS_ENV") == "1":
        return
    for var in BLAS_ENV_VARS:
        os.environ.setdefault(var, str(n))


# Applied at import so any process that imports this package before
# numpy (driver, CLI, bench subprocesses) gets the cap for free.
set_blas_env_defaults()

_LIMITED_TO: int | None = None


def _openblas_candidates() -> list[str]:
    """Paths that may hold the OpenBLAS numpy actually loaded."""
    paths: list[str] = []
    try:
        import numpy

        libs_dir = os.path.join(
            os.path.dirname(os.path.dirname(numpy.__file__)), "numpy.libs"
        )
        paths.extend(sorted(glob.glob(os.path.join(libs_dir, "libopenblas*.so*"))))
    except Exception:  # pragma: no cover - numpy always present here
        pass
    # Fallback: whatever openblas is mapped into this process already.
    try:
        with open(f"/proc/{os.getpid()}/maps") as fh:
            seen = set()
            for line in fh:
                part = line.rsplit(" ", 1)[-1].strip()
                if "openblas" in os.path.basename(part).lower() and part not in seen:
                    seen.add(part)
                    paths.append(part)
    except OSError:  # pragma: no cover - non-procfs platforms
        pass
    return paths


def limit_blas_threads(n: int = 1) -> None:
    """Cap the OpenBLAS pool of the numpy loaded in THIS process.

    Idempotent and cached: Spark reuses Python workers across tasks,
    so after the first kernel invocation this is a dict lookup.
    ``dlopen`` on an already-mapped shared object returns the existing
    handle, so calling ``openblas_set_num_threads`` through a fresh
    ``CDLL`` mutates the live pool.  The 64-bit-int build suffixes the
    symbol (``openblas_set_num_threads64_``); try both spellings.
    """
    global _LIMITED_TO
    if _LIMITED_TO == n:
        return
    set_blas_env_defaults(n)
    for path in _openblas_candidates():
        try:
            dll = ctypes.CDLL(path)
        except OSError:
            continue
        for sym in ("openblas_set_num_threads64_", "openblas_set_num_threads"):
            fn = getattr(dll, sym, None)
            if fn is not None:
                fn(ctypes.c_int(n))
                break
    _LIMITED_TO = n
