"""End-to-end CLI test: the reference's EP1 surface
(``rdbms-subsetter SRC DEST FRACTION [flags]``) over parquet dirs.
Runs in-process (same JVM) via ``cli.main``.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from rdbms_subsetter_spark.cli import main, parse_force
from rdbms_subsetter_spark.catalog import Catalog
from rdbms_subsetter_spark.closure import ClosureEngine
from tests.conftest import SF_MED, SF_SMALL, count_jobs


def _printed_counts(out: str) -> dict[str, int]:
    """The CLI's ``wrote <table> <n> rows`` lines as ``{table: n}``."""
    return {
        line.split()[1]: int(line.split()[2])
        for line in out.splitlines() if line.startswith("wrote ")
    }


def _only_tables(spark, src: str, keep: set[str]) -> list[str]:
    """``--exclude-tables`` arguments that keep only ``keep``."""
    return [t for t in Catalog(spark, src).tables() if t not in keep]


def test_parse_force_forms():
    assert parse_force("orders:42") == ("orders", None, "42")
    assert parse_force("customer:c_custkey=7") == ("customer", "c_custkey", "7")
    with pytest.raises(ValueError):
        parse_force("orders")


def test_cli_end_to_end(spark, tmp_path, capsys):
    dest = str(tmp_path / "subset")
    rc = main(
        [
            SF_SMALL,
            dest,
            "0.1",
            "--yes",
            "--seed", "7",
            "--children", "2",
            "--force", "orders:1",
            "--full-tables", "region", "nation",
            "--exclude-tables", "documents", "embeddings", "events",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "integrity: all FK edges resolve" in out

    cat = Catalog(spark, dest)
    got = set(cat.tables())
    assert "documents" not in got and "events" not in got
    assert cat.count("region") == 5 and cat.count("nation") == 25  # full tables
    # forced row present with closure
    assert cat["orders"].filter(F.col("o_orderkey") == 1).count() == 1
    # written subset is referentially closed
    eng = ClosureEngine(cat)
    viol = eng.integrity_violations(
        {t: cat[t] for t in got if t in cat.registry.tables()}
    )
    assert all(v == 0 for v in viol.values())


def test_cli_without_fk_edges_reports_zero_violations(spark, tmp_path, capsys):
    """A subset whose written tables share no FK edge (only ``region``)
    has nothing to check: the integrity report is empty, the CLI prints
    the 0-violations line and exits 0."""
    rc = main(
        [SF_SMALL, str(tmp_path / "subset"), "0.5", "--yes",
         "--exclude-tables", *_only_tables(spark, SF_SMALL, {"region"})]
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert "wrote region " in out
    assert "integrity: all FK edges resolve (0 violations)" in out


def test_cli_counts_written_rows_without_dataframe_count(spark, tmp_path, capsys, monkeypatch):
    """The written-row counts are observed on the write actions
    themselves, never a ``DataFrame.count()`` job per output table; the
    printed counts match the files on disk."""
    df_class = type(spark.range(1))
    calls: list[object] = []
    original = df_class.count

    def spy(self):
        calls.append(self)
        return original(self)

    monkeypatch.setattr(df_class, "count", spy)
    dest = str(tmp_path / "subset")
    rc = main(
        [SF_SMALL, dest, "0.1", "--yes", "--seed", "7",
         "--exclude-tables", "documents", "embeddings", "events"]
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert calls == []
    monkeypatch.undo()
    printed = _printed_counts(out)
    cat = Catalog(spark, dest)
    assert printed and printed == {t: cat.count(t) for t in printed}


def test_cli_empty_subset_reports_zero_rows(spark, tmp_path, capsys):
    """A subset with no rows (fraction 0, a forced key that does not
    exist) prints ``wrote … 0 rows`` per table and no resync line, and
    exits 0: the observed metrics of an empty write are available, so
    reading them does not block."""
    import threading

    argv = [SF_SMALL, str(tmp_path / "subset"), "0.0", "--yes",
            "--force", "orders:-1",
            "--exclude-tables", *_only_tables(spark, SF_SMALL, {"customer", "orders"})]
    result: dict[str, int] = {}
    worker = threading.Thread(
        target=lambda: result.setdefault("rc", main(argv)), daemon=True
    )
    worker.start()
    worker.join(timeout=300)
    assert not worker.is_alive(), "cli.main blocked on an empty write"
    out = capsys.readouterr().out
    assert result["rc"] == 0
    assert _printed_counts(out) == {"customer": 0, "orders": 0}
    assert "sequence resync" not in out
    assert "integrity: all FK edges resolve (0 violations)" in out


def test_cli_spark_job_budget(spark, tmp_path, capsys):
    """The subset CLI in the benchmark's ``subset_cli`` shape (sf0.01,
    customer + orders, ``0.05 --seed 1``) runs exactly this many Spark
    jobs: each key set is computed once, the writes do not replay the
    closure, and counts and resync values come from the writes.  A
    change that brings back replayed writes or post-write actions
    moves the figure (the same at 4 and 8 local cores)."""
    argv = [SF_MED, str(tmp_path / "subset"), "0.05", "--seed", "1", "--yes",
            "--exclude-tables", *_only_tables(spark, SF_MED, {"customer", "orders"})]
    rc, jobs = count_jobs(spark, lambda: main(argv))
    capsys.readouterr()
    assert rc == 0
    assert jobs == 25


def test_cli_config_merge(spark, tmp_path):
    cfg = tmp_path / "constraints.json"
    cfg.write_text(
        json.dumps(
            {
                "primary_keys": {},
                "constraints": [
                    {
                        "table": "events",
                        "constrained_columns": ["user_id"],
                        "referred_table": "customer",
                        "referred_columns": ["c_custkey"],
                    }
                ],
            }
        )
    )
    dest = str(tmp_path / "subset2")
    rc = main(
        [SF_SMALL, dest, "0.05", "--yes", "--config", str(cfg),
         "--exclude-tables", "documents", "embeddings"]
    )
    assert rc == 0
    cat = Catalog(spark, dest)
    # every selected event's user resolves to a selected customer
    ev_users = cat["events"].select(F.col("user_id").alias("c_custkey")).na.drop()
    missing = ev_users.join(cat["customer"], on="c_custkey", how="left_anti")
    assert missing.count() == 0


# ---------------------------------------------------------------------------
# JDBC round-trip smoke — embedded Derby ships on Spark's classpath, so
# this always runs; an external driver/URL (env) is preferred when given
# ---------------------------------------------------------------------------


def test_jdbc_roundtrip_smoke(spark, tmp_path):
    """Subset a table parquet->JDBC->read-back and verify values.  Uses
    SPARK_GRAFT_JDBC_DRIVER/URL when provided (external server), else
    the embedded Derby driver — always present, never skips."""
    import os

    from rdbms_subsetter_spark.catalog import Catalog
    from rdbms_subsetter_spark.sources import io as srcio
    from tests.conftest import SF_SMALL

    candidates = [
        (
            os.environ.get("SPARK_GRAFT_JDBC_DRIVER", ""),
            os.environ.get("SPARK_GRAFT_JDBC_URL", ""),
        ),
        (srcio.DERBY_EMBEDDED_DRIVER, srcio.derby_url(str(tmp_path / "smoke"))),
    ]
    driver = url = None
    for d, u in candidates:
        if not d or not u:
            continue
        try:
            srcio._check_jdbc(spark, d)
        except NotImplementedError:
            continue
        driver, url = d, u
        break
    assert driver is not None, "embedded Derby must be on Spark's classpath"

    nation = Catalog(spark, SF_SMALL)["nation"]
    srcio.write_jdbc(nation, url, "nation_rt", driver=driver, mode="overwrite")
    back = srcio.read_jdbc(spark, url, "nation_rt", driver=driver)
    assert back.count() == nation.count()
    orig = {r["n_nationkey"]: r["n_name"] for r in nation.collect()}
    got = {r["n_nationkey"]: r["n_name"] for r in back.collect()}
    assert got == orig


def test_cli_jdbc_dest_derby(spark, tmp_path, capsys):
    """CLI end-to-end with a jdbc: destination: the subset lands in an
    embedded Derby database in topo order (the reference's real
    destination shape) and the CLI's integrity check re-reads it over
    JDBC — 0 violations, tables re-readable with correct counts."""
    from rdbms_subsetter_spark.cli import main
    from rdbms_subsetter_spark.sources import io as srcio
    from tests.conftest import SF_SMALL

    url = srcio.derby_url(str(tmp_path / "clidest"))
    rc = main([SF_SMALL, url, "0.25", "--seed", "7", "-y",
               "--exclude-tables", "events", "documents", "embeddings"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "integrity: all FK edges resolve" in out
    back = srcio.read_jdbc(
        spark, url, "region", driver=srcio.DERBY_EMBEDDED_DRIVER
    )
    assert back.count() > 0
    # every printed count, observed on the JDBC write, is what landed
    printed = _printed_counts(out)
    assert printed
    for table, n in printed.items():
        landed = srcio.read_jdbc(spark, url, table, driver=srcio.DERBY_EMBEDDED_DRIVER)
        assert landed.count() == n, table


def test_cli_schema_scoping(spark, tmp_path):
    """--schema selects SOURCE/SCHEMA and writes DEST/SCHEMA — the
    directory mapping of the reference's named-schema reflection."""
    import shutil

    from rdbms_subsetter_spark.cli import main
    from tests.conftest import SF_SMALL

    src = tmp_path / "src" / "analytics"
    src.mkdir(parents=True)
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"):
        shutil.copy(f"{SF_SMALL}/{t}.parquet", str(src / f"{t}.parquet"))
    dest = tmp_path / "dst"
    rc = main([str(tmp_path / "src"), str(dest), "0.2",
               "--schema", "analytics", "--seed", "7", "-y"])
    assert rc == 0
    out = dest / "analytics"
    assert (out / "region.parquet").exists()
    n = spark.read.parquet(str(out / "orders.parquet")).count()
    assert n > 0
