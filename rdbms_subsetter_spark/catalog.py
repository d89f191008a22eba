"""Catalog: a directory of parquet tables as the engine's database.

Replaces the reference's ``Db`` object (``subsetter.py::Db.__init__``:
SQLAlchemy engine + reflected ``MetaData``).  Reflection becomes
reading parquet footers; the FK/PK metadata the RDBMS would provide
comes from :mod:`rdbms_subsetter_spark.constraints`.

Covers reference ops:
  #1 schema reflection  — ``spark.read.parquet`` + ``df.schema``
  #2 exact row count    — ``df.count()``
  #3 estimated row count— parquet footer metadata (exact and free)
  #19 schema compat     — ``schema_check`` StructType equality
"""

from __future__ import annotations

from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from rdbms_subsetter_spark.constraints import ConstraintRegistry, tpch_registry
from rdbms_subsetter_spark.session import pin_session_conf

TPCH_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _nanos_ts_columns(path: str) -> list[str]:
    """Column names stored as parquet TIMESTAMP(NANOS) (from the footer)."""
    target = Path(path)
    f = target if target.is_file() else next(target.glob("*.parquet"))
    schema = pq.ParquetFile(str(f)).schema_arrow
    return [fld.name for fld in schema if str(fld.type) == "timestamp[ns]"]


def _fix_nanos_timestamps(df: DataFrame, path: str) -> DataFrame:
    """Normalize timestamp columns to plain TIMESTAMP (LTZ) however the
    parquet writer annotated them.

    Two cases seen across testdata generations:
    - TIMESTAMP(NANOS): Spark rejects natively; read as raw longs under
      ``spark.sql.legacy.parquet.nanosAsLong`` and rebuilt here (values
      are µs-aligned, so integer division loses nothing).
    - TIMESTAMP(MICROS, isAdjustedToUTC=false): infers as TIMESTAMP_NTZ,
      which watermarks, ``unix_micros`` and interval arithmetic reject.
      Session tz is pinned UTC (``pin_session_conf``), so casting to LTZ
      preserves wall-clock values and DuckDB-oracle parity.
    """
    spark_types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    for name in _nanos_ts_columns(path):
        # footer check alone false-positives on INT96 (pyarrow reports
        # ns) — only rewrite when Spark actually surfaced a raw long
        if spark_types.get(name) == "bigint":
            df = df.withColumn(name, F.timestamp_micros(F.expr(f"{name} div 1000")))
    for name, t in spark_types.items():
        if t == "timestamp_ntz":
            df = df.withColumn(name, F.col(name).cast("timestamp"))
    return df


class Catalog:
    """All tables under one ``sf_dir`` (one parquet file/dir per table)."""

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        registry: ConstraintRegistry | None = None,
        tables: list[str] | None = None,
    ):
        pin_session_conf(spark)
        self.spark = spark
        self.sf_dir = str(sf_dir)
        self.registry = registry or tpch_registry()
        self._names = tables or self._discover()
        self._cache: dict[str, DataFrame] = {}

    def _discover(self) -> list[str]:
        found = sorted(p.stem for p in Path(self.sf_dir).glob("*.parquet"))
        # keep canonical ordering when it's the standard testdata layout
        known = [t for t in TPCH_TABLES if t in found]
        return known + [t for t in found if t not in known]

    # ------------------------------------------------------------------
    def path(self, name: str) -> str:
        return f"{self.sf_dir}/{name}.parquet"

    def tables(self) -> list[str]:
        return list(self._names)

    def table(self, name: str) -> DataFrame:
        """Lazy DataFrame for a table (reference: reflected Table)."""
        if name not in self._cache:
            df = self.spark.read.parquet(self.path(name))
            self._cache[name] = _fix_nanos_timestamps(df, self.path(name))
        return self._cache[name]

    def __getitem__(self, name: str) -> DataFrame:
        return self.table(name)

    # ------------------------------------------------------------------
    def count(self, name: str) -> int:
        """Exact row count (reference ``_find_n_rows(estimate=False)``).

        Spark answers this from parquet footer statistics without a
        full scan, so exact == fast here (the reference needed a
        dialect-specific estimate fast-path; we don't).
        """
        return self.table(name).count()

    def count_estimate(self, name: str) -> int:
        """Row count from parquet footer metadata only — no Spark job at
        all (reference ``_find_n_rows(estimate=True)``: pg_class
        reltuples / EXPLAIN estimates).  For parquet this is exact.
        """
        target = Path(self.path(name))
        if target.is_file():
            return pq.ParquetFile(str(target)).metadata.num_rows
        return sum(
            pq.ParquetFile(str(f)).metadata.num_rows
            for f in target.glob("*.parquet")
        )

    def schema_check(self, other: "Catalog") -> None:
        """Source/destination structural equality (reference op #19:
        ``Db.assign_target`` errors on mismatched reflection)."""
        mine, theirs = set(self.tables()), set(other.tables())
        if mine != theirs:
            raise ValueError(
                f"table sets differ: only-source={sorted(mine - theirs)} "
                f"only-dest={sorted(theirs - mine)}"
            )
        for t in self.tables():
            if self.table(t).schema != other.table(t).schema:
                raise ValueError(
                    f"schema mismatch for {t!r}: "
                    f"{self.table(t).schema.simpleString()} != "
                    f"{other.table(t).schema.simpleString()}"
                )
