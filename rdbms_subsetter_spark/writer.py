"""Sinks: topologically ordered writes + plan preview.

Reference ops covered:
  #16 row insert        — ``subsetter.py::Db.create_row_in`` insert →
      table-at-a-time ``df.write.parquet`` (or ``.jdbc``) in
      parents-first topological order, so a constrained destination
      accepts every table as it lands.
  #17 sequence resync   — ``subsetter.py::update_sequences``
      (postgres ``setval(seq, max(col))``) → the ``max(pk)`` each
      write observed; the DDL side only applies to JDBC targets.

Each table's row count and single-column-PK ``max`` are observed on
its write action (``DataFrame.observe``), so reporting them costs no
Spark job of its own.
  #18 plan preview      — ``Db.confirm``: per-table
      ``source_rows → target_rows`` report.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import DataFrame, Observation, functions as F

from rdbms_subsetter_spark.catalog import Catalog
from rdbms_subsetter_spark.constraints import ConstraintRegistry
from rdbms_subsetter_spark.sampling import SamplePlan


@dataclass
class PlanLine:
    table: str
    source_rows: int
    target_rows: int
    policy: str


def plan_preview(catalog: Catalog, plan: SamplePlan) -> list[PlanLine]:
    """Per-table ``source → target`` sizing report (reference
    ``Db.confirm`` prints this and prompts unless ``-y``)."""
    out = []
    for table in catalog.tables():
        pol = plan.policy_for(table)
        n = catalog.count_estimate(table)
        out.append(PlanLine(table, n, pol.target(n), pol.mode))
    return out


@dataclass
class WrittenSubset:
    """What the write actions observed, table by table."""

    order: list[str]  # parents-first write order
    rows: dict[str, int]  # rows written per table
    pk_max: dict[str, Any]  # single-column-PK tables: max key, None if empty


def _write_observed(
    rows: dict[str, DataFrame],
    registry: ConstraintRegistry,
    write_one: Callable[[str, DataFrame], None],
) -> WrittenSubset:
    """Write every table in parents-first topo order with ``write_one``,
    observing its row count (and single-column-PK ``max``) on the write
    action itself."""
    order = [t for t in registry.topo_order() if t in rows]
    order += [t for t in rows if t not in order]
    observed: dict[str, dict[str, Any]] = {}
    for table in order:
        metrics = [F.count(F.lit(1)).alias("n_rows")]
        pk = registry.pk(table)
        if len(pk) == 1:
            metrics.append(F.max(pk[0]).alias("pk_max"))
        obs = Observation()
        write_one(table, rows[table].observe(obs, *metrics))
        observed[table] = obs.get
    return WrittenSubset(
        order=order,
        rows={t: m["n_rows"] for t, m in observed.items()},
        pk_max={t: m["pk_max"] for t, m in observed.items() if "pk_max" in m},
    )


def write_subset(
    rows: dict[str, DataFrame],
    registry: ConstraintRegistry,
    out_dir: str,
    mode: str = "overwrite",
) -> WrittenSubset:
    """Write every table in parents-first topo order; returns the order
    and what each write observed.

    Parquet has no FK checks, but the order contract is what lets the
    same code target a constrained JDBC destination (swap the write
    call), mirroring the reference's parents-before-children insert
    discipline.
    """
    return _write_observed(
        rows,
        registry,
        lambda table, df: df.write.mode(mode).parquet(f"{out_dir}/{table}.parquet"),
    )


def write_subset_jdbc(
    rows: dict[str, DataFrame],
    registry: ConstraintRegistry,
    url: str,
    driver: str,
    mode: str = "overwrite",
) -> WrittenSubset:
    """Write every table into a JDBC destination in parents-first topo
    order; returns the order and what each write observed.

    This is the reference's actual destination shape
    (`subsetter.py::Db.create_row_in` inserts into a live RDBMS), done
    set-at-a-time.  The FK-safety claim is mode-specific: with
    ``mode='append'`` into a pre-created schema with enforced FK
    constraints, parents-first order means every batch is accepted.
    The default ``mode='overwrite'`` DROPs and recreates each table
    (and Spark's JDBC writer emits no constraint DDL), so it assumes a
    constraint-free destination — dropping a parent that an existing
    child FK references would be rejected by the database regardless
    of order.  The sink itself is the batched ``write_jdbc`` (one
    round-trip per batch, not per row).
    """
    from rdbms_subsetter_spark.sources.io import write_jdbc

    return _write_observed(
        rows,
        registry,
        lambda table, df: write_jdbc(df, url, table, driver=driver, mode=mode),
    )


def sequence_resync_report(written: WrittenSubset) -> dict[str, Any]:
    """``max(pk)`` per non-empty single-column-PK table, as its write
    observed it — the value a postgres ``setval`` would need after load
    (reference ``update_sequences``)."""
    return {t: m for t, m in written.pk_max.items() if m is not None}
