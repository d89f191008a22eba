"""Capability-probed lakehouse MERGE.

The repo's documented boundary (SCALE.md "Lakehouse MERGE boundary"):
sub-partition (per-file) pruning and snapshot isolation for upserts need
a real table format, and this sandbox ships no Delta/Iceberg jar.  This
module turns that boundary into a ONE-JAR UPGRADE instead of a rewrite:
``merge_upsert_auto`` probes the running session for Delta Lake (jar on
the classpath AND the session extension installed — both are required
for ``MERGE INTO`` to parse and plan) and dispatches to a real Delta
MERGE when present, else to the dynamic-partition-overwrite MERGE
(`queries.sources.merge_partition_pruned_table`), which is the strongest
plain-parquet form (write cost ∝ touched partitions, byte-identity of
untouched partitions asserted in tests).

Reference parity: `subsetter.py::Db.create_row_in` upserts row-at-a-time
into a live RDBMS; both branches here are the set-at-a-time equivalent.

The Delta branch is exercised only when the jar is present (never in
this sandbox — the probe test asserts exactly that), but it is plain
public Delta SQL: the same ``MERGE INTO`` statement any Delta 3.x
deployment runs.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def delta_merge_available(spark: SparkSession) -> bool:
    """True iff this session can plan a Delta ``MERGE INTO``: the Delta
    jar is on the JVM classpath AND the Delta session extension was
    installed at session build (the extension cannot be added to a live
    session, so a jar without the conf still returns False)."""
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "io.delta.tables.DeltaTable"
        )
    except Exception:
        return False
    try:
        exts = spark.conf.get("spark.sql.extensions", "") or ""
    except Exception:
        exts = ""
    return "io.delta.sql.DeltaSparkSessionExtension" in exts


def _merge_delta(spark: SparkSession, sf_dir: str) -> str:
    """Delta-backed MERGE INTO: per-file pruning + snapshot isolation,
    the sub-partition half of the SCALE.md boundary.  Same source/update
    semantics as merge_partition_pruned_table; only the sink differs."""
    from rdbms_subsetter_spark.catalog import Catalog
    from rdbms_subsetter_spark.session import stable_suffix

    cat = Catalog(spark, sf_dir)
    out = os.path.join(tempfile.gettempdir(), f"rss_delta_{stable_suffix(sf_dir)}")
    base = cat["customer"].select(
        "c_custkey",
        F.round(F.col("c_acctbal"), 2).alias("balance"),
        F.lit(False).alias("updated"),
        F.col("c_nationkey").alias("nation"),
    )
    base.write.format("delta").mode("overwrite").partitionBy("nation").save(out)

    latest = (
        cat["events"]
        .where(F.col("value").isNotNull())
        .groupBy(F.col("user_id").alias("c_custkey"))
        .agg(
            F.round(
                F.max_by(F.col("value"), F.struct(F.col("ts"), F.col("event_id"))), 2
            ).alias("new_bal")
        )
    )
    nations = cat["customer"].select("c_custkey", F.col("c_nationkey").alias("nation"))
    upd = latest.join(nations, on="c_custkey").where(F.col("nation") < 5)
    view = f"rss_delta_upd_{stable_suffix(sf_dir)}"
    upd.createOrReplaceTempView(view)
    try:
        # nation < 5 in the ON clause lets Delta partition-prune the
        # target scan; file-level pruning below that is the engine's job
        spark.sql(
            f"""
            MERGE INTO delta.`{out}` t
            USING {view} s
            ON t.c_custkey = s.c_custkey AND t.nation < 5
            WHEN MATCHED THEN
              UPDATE SET t.balance = s.new_bal, t.updated = true
            """
        )
    finally:
        spark.catalog.dropTempView(view)
    return out


def merge_upsert_auto(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Run the customer-balance MERGE with the best engine this session
    has: returns ``(table_path, engine)`` with engine ``"delta"`` or
    ``"dynamic-overwrite"``.  Both engines leave a table with identical
    logical content (same merged rows; the audit aggregate over either
    hashes identically)."""
    if delta_merge_available(spark):
        return _merge_delta(spark, sf_dir), "delta"
    from rdbms_subsetter_spark.queries.sources import merge_partition_pruned_table

    return merge_partition_pruned_table(spark, sf_dir), "dynamic-overwrite"


def read_merged(spark: SparkSession, path: str, engine: str):
    """Read the merged table back regardless of engine."""
    if engine == "delta":
        return spark.read.format("delta").load(path)
    return spark.read.parquet(path)
