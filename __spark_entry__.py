"""Driver contract for the spark-graft engine (PySpark target).

``entry(spark)`` runs the flagship FK-closure subset pipeline on
sf0.001; ``queries()`` returns every entry of the
``rdbms_subsetter_spark.queries`` registry in grading order;
``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL for every
SQL-expressible entry.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from rdbms_subsetter_spark import pipeline  # noqa: E402
from rdbms_subsetter_spark.queries import GRADING_ORDER, ORACLES, QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return pipeline.subset_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: QUERIES[n] for n in GRADING_ORDER}


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
