"""Seeded sampling and target sizing.

Reference ops covered (SURVEY.md §2A):
  #4  random row stream      — ``subsetter.py::_random_row_func`` /
      ``_random_row_gen_fn`` (chunked ``ORDER BY random() LIMIT n``)
  #11 fractional targeting   — ``Db.assign_target``:
      ``n_rows_desired = int(n_rows * fraction)``
  #12 logarithmic targeting  — ``Db.assign_target`` logarithmic branch:
      ``n = round(10 ** (log10(n_rows) * fraction)) == round(n_rows ** fraction)``
  #13 full / exclude policies
  #14 forced seed rows       — ``--force table:pk-val``

The reference's randomness is server-side ``random()`` — irreproducible
by design.  Ours is always seeded: either ``F.rand(seed)`` with a PK
tiebreak (stochastic-but-reproducible) or a *deterministic modulo
predicate* on the PK (reproducible AND oracle-expressible in plain SQL,
which the driver's DuckDB correctness gate needs).  At 100 TB both are
single-pass scans; ``orderBy(rand()).limit(n)`` is a global top-k
(TakeOrderedAndProject — no full sort materialization).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Literal

from pyspark.sql import DataFrame, functions as F

Policy = Literal["fraction", "logarithmic", "full", "exclude"]


@dataclass
class SamplePolicy:
    """Per-table sizing policy (reference ``assign_target``)."""

    mode: Policy = "fraction"
    fraction: float = 0.25

    def target(self, n_rows: int) -> int:
        if self.mode == "full":
            return n_rows
        if self.mode == "exclude":
            return 0
        if self.mode == "logarithmic":
            # reference: round(10 ** (log10(n) * f)) — i.e. n ** f
            return 0 if n_rows == 0 else int(round(10 ** (math.log10(n_rows) * self.fraction)))
        return int(n_rows * self.fraction)


@dataclass
class SamplePlan:
    """Whole-run sampling config (the argparse surface of the reference)."""

    fraction: float = 0.25
    logarithmic: bool = False
    full_tables: list[str] = field(default_factory=list)
    exclude_tables: list[str] = field(default_factory=list)
    children: int = 3  # --children: per-parent child cap
    seed: int = 42

    def policy_for(self, table: str) -> SamplePolicy:
        if table in self.exclude_tables:
            return SamplePolicy("exclude")
        if table in self.full_tables:
            return SamplePolicy("full")
        mode: Policy = "logarithmic" if self.logarithmic else "fraction"
        return SamplePolicy(mode, self.fraction)


def sample_exact_n(df: DataFrame, n: int, seed: int, pk: tuple[str, ...]) -> DataFrame:
    """Seeded random sample of exactly ``n`` rows (reference op #4).

    ``orderBy(rand(seed), *pk)`` — the PK tiebreak makes the pick
    deterministic even if two rows draw the same random value.  Spark
    executes ``sort().limit(n)`` as a distributed top-k, so this does
    NOT globally sort 100 TB; each partition keeps n candidates.
    """
    if n <= 0:
        return df.limit(0)
    return df.orderBy(F.rand(seed), *pk).limit(n)


def sample_modulo(df: DataFrame, pk_col: str, modulus: int, remainder: int = 0) -> DataFrame:
    """Deterministic 1/modulus sample: ``pk % modulus == remainder``.

    Oracle-expressible (identical semantics in any SQL engine), stable
    across engines and runs — the form the driver's hash gate prefers.
    Pushed down to the parquet scan as a filter.
    """
    return df.filter(F.col(pk_col) % modulus == remainder)


def sample_stratified_modulo(
    df: DataFrame, pk_col: str, strata_col: str, rates: dict[str, int], default: int = 0
) -> DataFrame:
    """Deterministic stratified sample: keep ``pk % 100 < rate`` with a
    per-stratum rate (percent).  The modulo form (vs ``df.sampleBy``)
    is reproducible across engines, pushes down to the scan, and keeps
    the per-stratum expectation exact for uniform keys.
    """
    rate = F.lit(default)
    for value, pct in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == value, F.lit(pct)).otherwise(rate)
    return df.filter(F.col(pk_col) % 100 < rate)
