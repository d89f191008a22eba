"""Physical-plan inspection helpers.

The 100 TB discipline is enforced here: tests assert the *plan shape*
(shuffle count, broadcast choice, parquet pushdown, codegen spans), not
just result values — a correct-but-shuffling plan is a regression even
when every value matches.
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame, mode: str = "formatted") -> str:
    try:
        return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[union-attr]
            df._jdf.queryExecution(), mode
        )
    except Exception:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode)
        return buf.getvalue()


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle Exchange operators.  Broadcast exchanges are
    NOT counted — they move only the (small) build side."""
    plan = physical_plan(df, "simple")
    return len(
        re.findall(r"\bExchange (hashpartitioning|rangepartitioning|SinglePartition|RoundRobinPartitioning)", plan)
    )


def has_broadcast_hash_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in physical_plan(df, "simple")


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries of every parquet scan in the plan."""
    plan = physical_plan(df, "formatted")
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        if m.group(1).strip():
            out.extend(s.strip() for s in m.group(1).split(","))
    return out


def wholestage_codegen_spans(df: DataFrame) -> int:
    """How many WholeStageCodegen subtrees the plan compiled (wider is
    better — fewer codegen breaks).

    AQE wraps the whole tree in AdaptiveSparkPlan and defers codegen
    until stages run, so the count is taken on a non-adaptive replan:
    AQE is toggled off, a no-op transform forces a fresh
    QueryExecution, and the conf is restored."""
    from pyspark.sql import functions as F

    from rdbms_subsetter_spark.session import conf_window

    with conf_window(df.sparkSession, {"spark.sql.adaptive.enabled": "false"}):
        replanned = df.filter(F.lit(True))
        m = re.search(
            r"Found (\d+) WholeStageCodegen subtrees", physical_plan(replanned, "codegen")
        )
        return int(m.group(1)) if m else 0
