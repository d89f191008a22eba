"""Output checks, run untimed once per invocation against DuckDB."""

from __future__ import annotations

from pathlib import Path

import duckdb

# the oracle-parity test's order-insensitive canonical form
from tests.test_oracle_parity import _normalize


def oracle_mismatch(con, sql: str, rows, cols) -> str | None:
    """None when Spark's collected ``rows`` equal the oracle's result."""
    res = con.execute(sql)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    if sorted(duck_cols) != sorted(cols):
        return f"columns {sorted(cols)} != oracle {sorted(duck_cols)}"
    if len(rows) != len(duck_rows):
        return f"{len(rows)} rows != oracle {len(duck_rows)}"
    if _normalize([tuple(r) for r in rows], cols) != _normalize(duck_rows, duck_cols):
        return "values differ from oracle"
    return None


def subset_problems(dest: Path, printed: dict[str, int], registry) -> list[str]:
    """Independent check of a written subset: DuckDB row counts equal the
    CLI's printed counts, and every registry FK edge between written
    tables resolves."""
    con = duckdb.connect()
    for t in printed:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{dest / t}.parquet/*.parquet'")
    problems = []
    for t, n in printed.items():
        got = con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
        if got != n:
            problems.append(f"{t}: {got} rows on disk, CLI printed {n}")
    for fk in registry.fks:
        if fk.table not in printed or fk.ref_table not in printed:
            continue
        on = " AND ".join(f"p.{r} = c.{c}" for c, r in zip(fk.columns, fk.ref_columns))
        notnull = " AND ".join(f"c.{c} IS NOT NULL" for c in fk.columns)
        bad = con.execute(
            f"SELECT count(*) FROM {fk.table} c WHERE {notnull} "
            f"AND NOT EXISTS (SELECT 1 FROM {fk.ref_table} p WHERE {on})"
        ).fetchone()[0]
        if bad:
            problems.append(f"{fk.table}{fk.columns} -> {fk.ref_table}: {bad} violations")
    con.close()
    return problems
