"""SparkSession factory tuned for this engine.

Local test profile is ``local[$SPARK_GRAFT_CPUS]``; the same settings
(AQE on, shuffle partitions sized to cores, Arrow on, UTC session
timezone) are the ones we would set cluster-wide at 100 TB, with
``shuffle.partitions`` scaled to ~2-3× total cores there.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession


def _worker_pythonpath() -> str:
    """The directory holding this package, then any inherited
    ``PYTHONPATH``: Python workers need the package on their path to
    unpickle UDFs that reference it, whatever the driver's cwd."""
    root = str(Path(__file__).resolve().parents[1])
    inherited = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    return os.pathsep.join([root] + [p for p in inherited if p and p != root])


def get_spark(app_name: str = "rdbms_subsetter_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # One BLAS thread per Python worker: Spark supplies the
        # task-level parallelism; an OpenBLAS pool on top of 32 task
        # slots oversubscribes the host (or the executor, on a real
        # cluster) and showed up as 4-8x bench variance in the numpy
        # kernels.  Belt (worker env here) and suspenders
        # (_blas.limit_blas_threads inside every Arrow kernel, which
        # also covers sessions we did not create).
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .config("spark.executorEnv.PYTHONPATH", _worker_pythonpath())
        # managed-table root (bucketed layouts) — scratch space, not cwd
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/rss_warehouse"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def pin_session_conf(spark: SparkSession) -> None:
    """Runtime-settable configs we rely on for correctness, applied to a
    session we did not create (the driver passes its own session to
    ``entry``/``queries``).  UTC is load-bearing: parquet timestamps are
    stored as UTC instants and the DuckDB oracle reads them naively, so
    any other session timezone skews collected timestamps.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # events.ts is parquet TIMESTAMP(NANOS) which Spark cannot read
    # natively ([PARQUET_TYPE_ILLEGAL]); read it as long and convert
    # (Catalog.table rebuilds the µs timestamp column).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def stable_suffix(s: str) -> str:
    """12-hex-digit md5 digest of ``s`` — the process-stable naming
    suffix for temp views and scratch paths (``hash()`` is
    PYTHONHASHSEED-randomized and would vary per process)."""
    import hashlib

    return hashlib.md5(s.encode()).hexdigest()[:12]


def conf_window(spark: SparkSession, confs: dict):
    """Context manager: set runtime SQL confs, restore (or unset) every
    touched key on exit — for operators that need optimizer behavior
    switched on only around their own materialization (e.g. the runtime
    bloom-filter join) without leaking into the caller's session."""
    from contextlib import contextmanager

    @contextmanager
    def _window():
        prev = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            yield
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    return _window()


def observed_checkpoint(df: DataFrame, **aggs) -> tuple[DataFrame, dict]:
    """Eager ``localCheckpoint`` of ``df``, returned with the aggregates
    ``aggs`` (name → Column) observed over its rows by the checkpoint's
    own job: a driver loop's stop signal at no extra action.  Over no
    rows ``count`` observes 0 and ``sum``/``bit_xor`` observe None."""
    obs = Observation()
    df = df.observe(obs, *(col.alias(name) for name, col in aggs.items()))
    return df.localCheckpoint(eager=True), obs.get
