"""CLI — the reference's primary entry point (SURVEY.md §3 EP1:
``rdbms-subsetter SRC_URL DEST_URL FRACTION [flags]`` →
``subsetter.py::generate``), re-expressed over parquet directories::

    python -m rdbms_subsetter_spark SOURCE_DIR DEST_DIR 0.05 \
        [--logarithmic] [--children 3] [--config constraints.json] \
        [--force orders:42] [--force customer:c_custkey=7] \
        [--full-tables region nation] [--exclude-tables events] \
        [--seed 42] [--yes]

Flag-for-flag parity with the reference's argparse surface: fraction /
--logarithmic sizing, --children cap, --config pseudo-FK JSON (op #20),
repeatable --force seeds (both ``table:pkval`` and ``table:col=val``
forms, op #14), --full-tables / --exclude-tables policies (op #13),
plan preview + confirm prompt unless --yes (op #18), and a sequence-
resync report after the write (op #17).  The engine behind it is the
set-at-a-time closure (semi-join fixpoint), not the reference's
row-at-a-time recursion: one ``ClosureEngine.create_subset`` run,
whose key sets are each computed once where they are made, so the
one write action per table reads them instead of replaying the whole
closure.  The written row counts and the sequence-resync values are
observed on the writes themselves (``writer.write_subset``), so they
cost no Spark job; the integrity check re-reads the written tables,
and with no FK edge between them it reports 0 violations.
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import DataFrame, functions as F


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="rdbms_subsetter_spark",
        description="Referential-integrity-preserving subset of a parquet table dir.",
    )
    p.add_argument("source", help="source directory of <table>.parquet files")
    p.add_argument("dest", help="destination directory")
    p.add_argument("fraction", type=float, help="target fraction of rows per table")
    p.add_argument("-l", "--logarithmic", action="store_true",
                   help="size targets as n**fraction instead of n*fraction")
    p.add_argument("-c", "--children", type=int, default=3,
                   help="max child rows pulled per selected parent (default 3)")
    p.add_argument("--config", help="JSON with primary_keys + pseudo-FK constraints")
    p.add_argument("-f", "--force", action="append", default=[],
                   metavar="TABLE:PKVAL|TABLE:COL=VAL",
                   help="force specific rows (and their closure) into the subset")
    p.add_argument("--full-tables", nargs="*", default=[],
                   help="tables copied at 100%%")
    p.add_argument("--exclude-tables", nargs="*", default=[],
                   help="tables excluded entirely")
    p.add_argument("--schema", default=None,
                   help="named schema: tables live under SOURCE/SCHEMA and "
                        "are written under DEST/SCHEMA (the reference's "
                        "--schema reflection scope, mapped to directories)")
    p.add_argument("--jdbc-driver", default=None,
                   help="JDBC driver class when DEST is a jdbc: URL "
                        "(defaults to the embedded Derby driver for "
                        "jdbc:derby: URLs — always on Spark's classpath)")
    p.add_argument("--seed", type=int, default=42, help="sampling seed")
    p.add_argument("-y", "--yes", action="store_true",
                   help="skip the confirm prompt")
    return p


def parse_force(spec: str):
    """``table:pkval`` or ``table:col=val`` → (table, col_or_None, value)."""
    table, _, rest = spec.partition(":")
    if not rest:
        raise ValueError(f"--force needs TABLE:PKVAL or TABLE:COL=VAL, got {spec!r}")
    if "=" in rest:
        col, _, val = rest.partition("=")
        return table, col, val
    return table, None, rest


def _force_keys(cat, table: str, col: str | None, val: str) -> DataFrame:
    from rdbms_subsetter_spark.closure import _key_cols

    df = cat.table(table)
    if col is None:
        pk = cat.registry.pk(table)
        if len(pk) != 1:
            raise ValueError(
                f"--force {table}:{val} needs a single-column PK; use TABLE:COL=VAL"
            )
        col = pk[0]
    typed = F.lit(val).cast(df.schema[col].dataType)
    return df.filter(F.col(col) == typed).select(*_key_cols(cat.registry, cat, table))


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    from rdbms_subsetter_spark.catalog import Catalog
    from rdbms_subsetter_spark.closure import ClosureEngine
    from rdbms_subsetter_spark.constraints import ConstraintRegistry
    from rdbms_subsetter_spark.sampling import SamplePlan
    from rdbms_subsetter_spark.session import get_spark
    from rdbms_subsetter_spark.writer import (
        plan_preview,
        sequence_resync_report,
        write_subset,
    )

    import os

    spark = get_spark("rdbms_subsetter_spark.cli")
    source = os.path.join(args.source, args.schema) if args.schema else args.source
    # a jdbc: destination is the reference's real shape (insert into a
    # live RDBMS); --schema maps to directories, so it only applies to
    # parquet destinations
    dest_is_jdbc = args.dest.startswith("jdbc:")
    if dest_is_jdbc:
        if args.schema:
            # SOURCE-side scoping (SRC/SCHEMA) still applies; the
            # DESTINATION mapping has no JDBC equivalent here, so say
            # so loudly instead of silently honoring only half the flag
            print(
                "warning: jdbc: destination ignores the --schema "
                "destination mapping (tables land unqualified); the "
                "source-side SRC/SCHEMA scoping still applies",
                file=sys.stderr,
            )
        dest = args.dest
        jdbc_driver = args.jdbc_driver
        if jdbc_driver is None:
            if dest.startswith("jdbc:derby:"):
                from rdbms_subsetter_spark.sources.io import DERBY_EMBEDDED_DRIVER

                jdbc_driver = DERBY_EMBEDDED_DRIVER
            else:
                print("--jdbc-driver is required for non-Derby jdbc: URLs",
                      file=sys.stderr)
                return 2
    else:
        dest = os.path.join(args.dest, args.schema) if args.schema else args.dest
    cat = Catalog(spark, source)
    if args.config:
        # config AUGMENTS the built-in registry with pseudo-FKs, like the
        # reference merges --config constraints onto Inspector output
        cat.registry = cat.registry.merge_config(ConstraintRegistry.from_json(args.config))

    plan = SamplePlan(
        fraction=args.fraction,
        logarithmic=args.logarithmic,
        full_tables=args.full_tables,
        exclude_tables=args.exclude_tables,
        children=args.children,
        seed=args.seed,
    )

    print(f"{'table':<12} {'rows':>10} {'target':>10}  policy")
    for line in plan_preview(cat, plan):
        print(f"{line.table:<12} {line.source_rows:>10} {line.target_rows:>10}  {line.policy}")
    if not args.yes:
        answer = input("Proceed? [y/N] ").strip().lower()
        if answer not in ("y", "yes"):
            print("aborted")
            return 1

    seeds: dict[str, DataFrame] = {}
    for spec in args.force:
        table, col, val = parse_force(spec)
        k = _force_keys(cat, table, col, val)
        seeds[table] = seeds[table].unionByName(k).distinct() if table in seeds else k

    eng = ClosureEngine(cat)
    result = eng.create_subset(plan, seeds=seeds or None)
    if dest_is_jdbc:
        from rdbms_subsetter_spark.sources.io import read_jdbc
        from rdbms_subsetter_spark.writer import write_subset_jdbc

        written = write_subset_jdbc(result.rows, cat.registry, dest, jdbc_driver)
        out_tables = {
            t: read_jdbc(spark, dest, t, driver=jdbc_driver) for t in written.order
        }
    else:
        written = write_subset(result.rows, cat.registry, dest)
        out_cat = Catalog(spark, dest, registry=cat.registry, tables=written.order)
        out_tables = {t: out_cat[t] for t in written.order}
    viol = eng.integrity_violations(out_tables)
    bad = {e: v for e, v in viol.items() if v}
    for table in written.order:
        print(f"wrote {table:<12} {written.rows[table]:>10} rows")
    resync = sequence_resync_report(written)
    for table, mx in sorted(resync.items()):
        print(f"sequence resync: {table} -> setval({mx})")
    if bad:
        print(f"INTEGRITY VIOLATIONS: {bad}", file=sys.stderr)
        return 2
    print("integrity: all FK edges resolve (0 violations)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
