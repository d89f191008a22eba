"""FK-closure engine: the set-at-a-time replacement for the reference's
recursive row-at-a-time core (``subsetter.py::Db.create_row_in`` and the
``Db.create_subset_in`` scheduler loop).

Reference semantics preserved:

* **Parent closure** (op #9): every selected row's non-null FK values
  must resolve to a selected parent row.  Reference: recursive
  ``create_row_in`` on each parent before inserting the child.  Here:
  key-set propagation child→parent in reverse topological order, one
  ``left_semi`` join per FK edge; FK cycles and self-referential tables
  iterate to a fixpoint with an anti-join against already-selected keys
  (the set equivalent of the reference's ``_exists`` base case that
  terminates its recursion).
* **Capped child pull** (op #10): after a row is selected, up to
  ``--children`` (default 3) referencing rows per child FK are pulled so
  subsets are "fleshed out".  Here: window top-k per parent key.
* **Existence/dedup** (op #8): ``_exists`` before insert → key sets are
  kept distinct and additions are anti-joined.
* **Policies** (op #13): full / exclude.  Excluded tables never receive
  keys — parent edges into them are not followed out of them either.

Scale notes (100 TB): only *key sets* flow between iterations (PK
columns, distinct — orders of magnitude smaller than rows).  Every key
set that gains a contribution is computed ONCE, where it is made, as
an eager ``localCheckpoint``: each parent-closure merge, each
child-pull edge, and each cyclic fixpoint iteration (which also stops
lineage growth, and observes whether the round added keys).  Downstream
consumers — every written table, every FK edge of the integrity check,
every summary count branch — reuse that computed relation instead of
replaying the closure subtree per branch.  The final materialization
is one ``left_semi`` join per table, which AQE turns into a broadcast
join whenever the key set is small.

:meth:`ClosureEngine.create_subset` is the one seed → close → pull →
close driver: the CLI and the flagship registry entries
(``queries/subset.py``) all run it.  :func:`count_report` is the one
per-table count report (one lazy union, one Spark action to collect).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from rdbms_subsetter_spark.catalog import Catalog
from rdbms_subsetter_spark.constraints import ConstraintRegistry, ForeignKey
from rdbms_subsetter_spark.sampling import SamplePlan, sample_exact_n
from rdbms_subsetter_spark.session import observed_checkpoint


def _key_cols(registry: ConstraintRegistry, catalog: Catalog, table: str) -> list[str]:
    """PK columns, or all columns for no-PK tables (reference falls back
    to whole-row comparison in ``_exists``)."""
    pk = registry.pk(table)
    return list(pk) if pk else list(catalog.table(table).columns)


def count_report(dfs: dict[str, DataFrame], key_col: str, name: str) -> DataFrame:
    """Per-key row counts as one lazy plan: a union, in ``dfs`` order,
    of ``(key, count(1))`` rows named ``(key_col, name)`` — collected
    with one Spark action instead of a ``count()`` per DataFrame.  An
    empty ``dfs`` gives an empty frame of the same schema."""
    parts = [
        df.agg(F.count(F.lit(1)).alias(name)).select(F.lit(key).alias(key_col), name)
        for key, df in dfs.items()
    ]
    if not parts:
        return SparkSession.active().createDataFrame(
            [], f"{key_col} string, {name} bigint"
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@dataclass
class SubsetResult:
    """Selected key sets + lazy row DataFrames for every table."""

    keys: dict[str, DataFrame]
    rows: dict[str, DataFrame] = field(default_factory=dict)


class ClosureEngine:
    """Set-at-a-time FK closure over ``catalog`` under ``registry``
    (default: the catalog's).  Each key set that gains a contribution
    is one eager ``localCheckpoint`` where it is made, so every
    consumer reuses it instead of replaying its closure subtree."""

    def __init__(self, catalog: Catalog, registry: ConstraintRegistry | None = None):
        self.catalog = catalog
        self.registry = registry or catalog.registry

    # ------------------------------------------------------------------
    def rows_for_keys(self, table: str, keys: DataFrame) -> DataFrame:
        """Materialize selected rows: one semi-join per table (AQE
        broadcasts the key side when small).

        No-PK tables use whole-row keys, so the keys ARE the rows:
        return them distinct — which both skips the semi-join and
        collapses duplicate source rows, mirroring the reference's
        whole-row ``_exists`` dedup for PK-less tables.
        """
        kc = list(keys.columns)
        table_cols = self.catalog.table(table).columns
        if set(kc) == set(table_cols):
            return keys.select(*table_cols).distinct()
        return self.catalog.table(table).join(keys, on=kc, how="left_semi")

    def _required_parent_keys(
        self, fk: ForeignKey, child_rows: DataFrame
    ) -> DataFrame:
        """Distinct non-null FK values of selected child rows, projected
        to the parent's key columns.  Handles FKs onto non-PK unique
        columns by resolving through the parent table."""
        refvals = (
            child_rows.select(
                *[F.col(c).alias(rc) for c, rc in zip(fk.columns, fk.ref_columns)]
            )
            .na.drop()
            .distinct()
        )
        parent_pk = _key_cols(self.registry, self.catalog, fk.ref_table)
        if tuple(fk.ref_columns) == tuple(parent_pk):
            return refvals
        # FK references a non-PK column: resolve to PK keys via the parent
        return (
            self.catalog.table(fk.ref_table)
            .join(refvals, on=list(fk.ref_columns), how="left_semi")
            .select(*parent_pk)
            .distinct()
        )

    # ------------------------------------------------------------------
    def close_parents(
        self,
        keys: dict[str, DataFrame],
        exclude: set[str] | None = None,
    ) -> dict[str, DataFrame]:
        """Propagate required keys child→parent until every FK of every
        selected row resolves (reference op #9, set-at-a-time).

        Acyclic tables need no driver-side iteration: each table's final
        key set is built ONCE as ``distinct(existing ∪ all child
        contributions)`` in children-first SCC order and, when it
        gained a contribution, checkpointed there, so every parent
        edge and later consumer reads one computed relation (AQE
        broadcasts the small key sides).  Only genuine FK cycles (incl.
        self-refs) fall back to the fixpoint loop, where each iteration
        anti-joins against already-selected keys (the set equivalent of
        the reference's ``_exists`` recursion base case) and
        ``localCheckpoint``s to stop lineage growth; key sets only grow
        inside finite tables, so the loop ends when a pass adds none.
        """
        exclude = exclude or set()
        keys = dict(keys)
        reg = self.registry
        # contributions to parent tables not yet processed
        pending: dict[str, list[DataFrame]] = {}

        def merge(table: str) -> None:
            contribs = pending.pop(table, [])
            dfs = ([keys[table]] if table in keys else []) + contribs
            if not dfs:
                return
            merged = dfs[0]
            for d in dfs[1:]:
                merged = merged.unionByName(d)
            if len(dfs) > 1:
                merged = merged.distinct()
            if contribs:
                # computed once, here: every later branch reuses the
                # checkpointed partitions instead of replaying this
                # table's whole closure subtree.  Only plans that
                # gained a contribution are new — an unchanged set
                # keeps its existing (possibly checkpointed) plan.
                merged = merged.localCheckpoint(eager=True)
            keys[table] = merged

        def emit(table: str, comp_set: set[str]) -> None:
            """Stash this table's parent-key requirements (outside its
            own component) for later merging."""
            rows = self.rows_for_keys(table, keys[table])
            for fk in reg.parents_of(table):
                if fk.ref_table in exclude or fk.ref_table in comp_set:
                    # excluded: reference op #13 [~] — parents pulled
                    # into excluded tables are not inserted
                    continue
                pending.setdefault(fk.ref_table, []).append(
                    self._required_parent_keys(fk, rows)
                )

        # sccs() is parents-first; requirements flow child→parent
        for comp in reversed(reg.sccs()):
            comp_set = set(comp)
            for table in comp:
                if table not in exclude:
                    merge(table)
            if reg.has_cycle(comp[0]):
                while True:
                    grew = False
                    for table in comp:
                        if table not in keys or table in exclude:
                            continue
                        rows = self.rows_for_keys(table, keys[table])
                        for fk in reg.parents_of(table):
                            if fk.ref_table not in comp_set or fk.ref_table in exclude:
                                continue
                            needed = self._required_parent_keys(fk, rows)
                            if fk.ref_table in keys:
                                new, seen = observed_checkpoint(
                                    needed.join(
                                        keys[fk.ref_table],
                                        on=list(needed.columns),
                                        how="left_anti",
                                    ),
                                    n=F.count(F.lit(1)),
                                )
                                if seen["n"] == 0:
                                    continue
                                keys[fk.ref_table] = (
                                    keys[fk.ref_table]
                                    .unionByName(new)
                                    .distinct()
                                    .localCheckpoint(eager=True)
                                )
                            else:
                                keys[fk.ref_table] = needed.localCheckpoint(eager=True)
                            grew = True
                    if not grew:
                        break
            for table in comp:
                if table in keys and table not in exclude:
                    emit(table, comp_set)
        return keys

    # ------------------------------------------------------------------
    def incremental_delta(
        self,
        existing: dict[str, DataFrame],
        new_seed: dict[str, DataFrame],
        exclude: set[str] | None = None,
    ) -> dict[str, DataFrame]:
        """Incremental subset refresh (the CDC shape of the reference's
        job): given an already-CLOSED existing subset (key sets per
        table) and a new batch of seed keys, return the per-table DELTA
        key sets that must be added so that ``existing ∪ delta`` is
        closed again.  The reference would re-run `create_row_in` per
        new row with `_exists` skipping what the destination already
        has; set-at-a-time that is: close the new seed over the FK
        graph, then anti-join each table's closed keys against the
        existing keys.

        Scale shape: the closure runs ONLY on the new-seed key sets
        (delta-sized, not table-sized); the anti-joins are key-set vs
        key-set with the existing side as the build side.  Nothing in
        the existing subset is re-read beyond its key columns.
        """
        closed = self.close_parents(new_seed, exclude=exclude)
        delta: dict[str, DataFrame] = {}
        for t, k in closed.items():
            if t in existing:
                kc = list(k.columns)
                delta[t] = k.join(existing[t].select(*kc), on=kc, how="left_anti")
            else:
                delta[t] = k
        return delta

    def pull_children(

        self,
        keys: dict[str, DataFrame],
        k: int,
        edges: list[ForeignKey] | None = None,
        exclude: set[str] | None = None,
        seed: int | None = None,
    ) -> dict[str, DataFrame]:
        """Per-parent capped child pull (reference op #10).

        For each child FK whose parent has selected keys, pick up to
        ``k`` child rows per parent key: window ``row_number() <= k``
        partitioned by the FK columns.  Deterministic order by the
        child PK by default (oracle-expressible); pass ``seed`` for the
        reference's random flavor (``ORDER BY random()``), still
        reproducible via the seed.
        """
        exclude = exclude or set()
        keys = dict(keys)
        reg = self.registry
        edges = edges if edges is not None else list(reg.fks)
        for fk in edges:
            if fk.ref_table not in keys or fk.table in exclude:
                continue
            child = self.catalog.table(fk.table)
            parent_rows = self.rows_for_keys(fk.ref_table, keys[fk.ref_table])
            parent_refvals = (
                parent_rows.select(
                    *[F.col(rc).alias(c) for c, rc in zip(fk.columns, fk.ref_columns)]
                ).distinct()
            )
            candidates = child.join(parent_refvals, on=list(fk.columns), how="left_semi")
            child_pk = _key_cols(reg, self.catalog, fk.table)
            order = [F.rand(seed), *child_pk] if seed is not None else list(child_pk)
            w = Window.partitionBy(*fk.columns).orderBy(*order)
            picked = (
                candidates.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") <= k)
                .select(*child_pk)
            )
            if fk.table in keys:
                picked = keys[fk.table].unionByName(picked).distinct()
            # the window top-k subtree is the most expensive key plan in
            # the pipeline: it runs once, not once per downstream FK
            # edge or count branch.
            keys[fk.table] = picked.localCheckpoint(eager=True)
        return keys

    # ------------------------------------------------------------------
    def integrity_violations_df(self, rows: dict[str, DataFrame]) -> DataFrame:
        """Anti-join check per FK edge: count of child rows whose
        non-null FK values do NOT resolve to a selected parent row.
        All-zero == referential integrity (the reference's core test
        invariant, SURVEY.md §5a).  One lazy :func:`count_report` — a
        single Spark job for all edges, not a count() per edge; empty
        when no FK edge joins two tables of ``rows``."""
        missing: dict[str, DataFrame] = {}
        for fk in sorted(
            self.registry.fks, key=lambda f: (f.table, f.columns, f.ref_table)
        ):
            if fk.table not in rows or fk.ref_table not in rows:
                continue
            edge = f"{fk.table}({','.join(fk.columns)})->{fk.ref_table}"
            child_fkvals = rows[fk.table].select(
                *[F.col(c).alias(rc) for c, rc in zip(fk.columns, fk.ref_columns)]
            ).na.drop()
            missing[edge] = child_fkvals.join(
                rows[fk.ref_table].select(*fk.ref_columns),
                on=list(fk.ref_columns),
                how="left_anti",
            )
        return count_report(missing, "fk_edge", "violations")

    def integrity_violations(self, rows: dict[str, DataFrame]) -> dict[str, int]:
        """Dict form of :meth:`integrity_violations_df` (one job)."""
        return {
            r["fk_edge"]: r["violations"]
            for r in self.integrity_violations_df(rows).collect()
        }

    # ------------------------------------------------------------------
    def create_subset(
        self,
        plan: SamplePlan,
        seeds: dict[str, DataFrame] | None = None,
        child_pull_edges: list[ForeignKey] | None = None,
    ) -> SubsetResult:
        """Full pipeline (reference ``Db.create_subset_in``), set-at-a-time:

        1. seed every non-excluded table toward its size target
           (+ forced/explicit seed keys),
        2. close parents (fixpoint),
        3. capped child pull (along ``child_pull_edges``, default every
           FK edge),
        4. re-close parents of the newly pulled rows.

        A table is read only when its policy samples it (``full``, or a
        target above 0); ``fraction=0.0`` plus ``seeds`` is a pure
        seeded subset.  The reference's priority scheduler
        (``_completeness_score`` / ``_next_row``) is a row-at-a-time
        artifact and disappears; the deterministic pass ordering above
        is its replacement.
        """
        exclude = set(plan.exclude_tables)
        keys: dict[str, DataFrame] = {}
        for table in self.catalog.tables():
            if table in exclude:
                continue
            pol = plan.policy_for(table)
            n = pol.target(self.catalog.count_estimate(table))
            if pol.mode != "full" and n <= 0:
                continue
            df = self.catalog.table(table)
            kc = _key_cols(self.registry, self.catalog, table)
            if pol.mode == "full":
                keys[table] = df.select(*kc)
            else:
                keys[table] = sample_exact_n(df, n, plan.seed, tuple(kc)).select(*kc)
        if seeds:
            for table, seed_keys in seeds.items():
                kc = _key_cols(self.registry, self.catalog, table)
                sk = seed_keys.select(*kc)
                keys[table] = keys[table].unionByName(sk).distinct() if table in keys else sk

        keys = self.close_parents(keys, exclude=exclude)
        keys = self.pull_children(
            keys, plan.children, edges=child_pull_edges, exclude=exclude
        )
        keys = self.close_parents(keys, exclude=exclude)

        rows = {t: self.rows_for_keys(t, k) for t, k in keys.items()}
        return SubsetResult(keys=keys, rows=rows)
