import itertools
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"
SF_BENCH = "/root/testdata/sf0.1"


@pytest.fixture(scope="session")
def spark():
    import os

    if os.environ.get("PARITY_VANILLA"):
        # Adversarial driver mirror: a session WE did not configure —
        # vanilla builder, non-UTC timezone, none of get_spark's pinned
        # confs.  Every queries() entry must self-pin what it needs
        # (Catalog.__init__ -> pin_session_conf); running the parity
        # suite under PARITY_VANILLA=1 proves that battery-wide.
        import os as _os

        from pyspark.sql import SparkSession

        cpus = _os.environ.get("SPARK_GRAFT_CPUS", "32")
        mem = _os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
        spark = (
            SparkSession.builder.master(f"local[{cpus}]")
            .appName("tests-vanilla")
            .config("spark.sql.session.timeZone", "America/New_York")
            .config("spark.driver.memory", mem)
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        from rdbms_subsetter_spark.session import get_spark

        spark = get_spark("tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    yield con
    con.close()


def register_views(con, sf_dir: str) -> None:
    from rdbms_subsetter_spark.catalog import TPCH_TABLES

    for t in TPCH_TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")


_job_groups = itertools.count()


def count_jobs(spark, fn):
    """Run ``fn()`` under a fresh Spark job group; return its result and
    the number of Spark jobs it started, read from the ``StatusTracker``
    once the listener bus has drained."""
    sc = spark.sparkContext
    group = f"count_jobs_{next(_job_groups)}"
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, len(sc.statusTracker().getJobIdsForGroup(group))
