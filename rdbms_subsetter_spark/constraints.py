"""PK/FK constraint registry and FK graph.

Spark has no native FK metadata, so this module is the Spark-side
replacement for the reference's reflection step
(``subsetter.py::Db.__init__`` — ``Inspector.get_pk_constraint`` /
``get_foreign_keys`` plus the ``--config`` JSON merge of pseudo-FK
"constraints").  The registry is a plain store loaded from JSON in
the same dict shape as SQLAlchemy's Inspector output, extended with
PKs, plus graph utilities the set-at-a-time engine needs:

* ``parents_of`` / ``children_of`` — the forward FK list and the
  reverse index (reference: the ``child_fks`` second pass in
  ``Db.__init__``).
* ``topo_order`` — parents-first table order for constrained writes
  (reference writes row-at-a-time with parents recursively first;
  we write table-at-a-time in topological order).
* ``sccs`` — strongly connected components so FK cycles and
  self-referential tables get fixpoint iteration instead of a
  (non-terminating) straight pass.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path


@dataclass(frozen=True)
class ForeignKey:
    """One FK edge: ``table.columns -> ref_table.ref_columns``.

    Mirrors the Inspector dict shape the reference consumes:
    ``{constrained_columns, referred_table, referred_columns}``.
    """

    table: str
    columns: tuple[str, ...]
    ref_table: str
    ref_columns: tuple[str, ...]

    @classmethod
    def from_dict(cls, d: dict) -> "ForeignKey":
        return cls(
            table=d["table"],
            columns=tuple(d["constrained_columns"]),
            ref_table=d["referred_table"],
            ref_columns=tuple(d["referred_columns"]),
        )


@dataclass
class ConstraintRegistry:
    """PKs + FKs for a set of tables, with graph utilities."""

    pks: dict[str, tuple[str, ...]] = field(default_factory=dict)
    fks: list[ForeignKey] = field(default_factory=list)

    # ------------------------------------------------------------------
    # construction
    # ------------------------------------------------------------------
    @classmethod
    def from_json(cls, path: str | Path) -> "ConstraintRegistry":
        """Load from a ``--config``-style JSON file (reference op #20).

        Shape::

            {"primary_keys": {"orders": ["o_orderkey"], ...},
             "constraints": [{"table": ..., "constrained_columns": [...],
                              "referred_table": ..., "referred_columns": [...]}]}
        """
        data = json.loads(Path(path).read_text())
        return cls(
            pks={t: tuple(cols) for t, cols in data.get("primary_keys", {}).items()},
            fks=[ForeignKey.from_dict(d) for d in data.get("constraints", [])],
        )

    def merge_config(self, extra: "ConstraintRegistry") -> "ConstraintRegistry":
        """Augment with pseudo-FKs not declared in the source, like the
        reference's ``--config`` JSON merge (``Db.__init__`` config merge).
        """
        pks = dict(self.pks)
        pks.update(extra.pks)
        seen = set(self.fks)
        fks = list(self.fks) + [fk for fk in extra.fks if fk not in seen]
        return ConstraintRegistry(pks=pks, fks=fks)

    # ------------------------------------------------------------------
    # lookups
    # ------------------------------------------------------------------
    def tables(self) -> list[str]:
        names: list[str] = list(self.pks)
        for fk in self.fks:
            for t in (fk.table, fk.ref_table):
                if t not in names:
                    names.append(t)
        return names

    def pk(self, table: str) -> tuple[str, ...]:
        """PK columns; empty tuple for no-PK tables (the reference
        handles those by whole-row comparison — we do the same by
        treating all columns as the key)."""
        return self.pks.get(table, ())

    def parents_of(self, table: str) -> list[ForeignKey]:
        return [fk for fk in self.fks if fk.table == table]

    def children_of(self, table: str) -> list[ForeignKey]:
        """Reverse FK index (reference: ``child_fks``)."""
        return [fk for fk in self.fks if fk.ref_table == table]

    # ------------------------------------------------------------------
    # graph
    # ------------------------------------------------------------------
    def sccs(self) -> list[list[str]]:
        """Strongly connected components of the FK graph (Tarjan),
        returned in reverse topological order of the condensation
        (i.e. a component appears before the components it references
        are *not* yet emitted — Tarjan emits sinks first, so the list
        is parents-first after reversal in ``topo_order``).

        Self-referential tables (``employee.manager_id -> employee``)
        and mutual cycles form multi-visit components that the closure
        engine iterates to fixpoint.
        """
        tables = self.tables()
        # edge child -> parent (the direction key-requirements flow)
        adj: dict[str, list[str]] = {t: [] for t in tables}
        for fk in self.fks:
            if fk.ref_table != fk.table:
                adj[fk.table].append(fk.ref_table)

        index: dict[str, int] = {}
        lowlink: dict[str, int] = {}
        on_stack: set[str] = set()
        stack: list[str] = []
        out: list[list[str]] = []
        counter = [0]

        def strongconnect(v: str) -> None:
            # iterative Tarjan to survive deep chains
            work = [(v, 0)]
            while work:
                node, pi = work[-1]
                if pi == 0:
                    index[node] = lowlink[node] = counter[0]
                    counter[0] += 1
                    stack.append(node)
                    on_stack.add(node)
                recurse = False
                for i in range(pi, len(adj[node])):
                    w = adj[node][i]
                    if w not in index:
                        work[-1] = (node, i + 1)
                        work.append((w, 0))
                        recurse = True
                        break
                    elif w in on_stack:
                        lowlink[node] = min(lowlink[node], index[w])
                if recurse:
                    continue
                if lowlink[node] == index[node]:
                    comp = []
                    while True:
                        w = stack.pop()
                        on_stack.discard(w)
                        comp.append(w)
                        if w == node:
                            break
                    out.append(comp)
                work.pop()
                if work:
                    parent = work[-1][0]
                    lowlink[parent] = min(lowlink[parent], lowlink[node])

        for t in tables:
            if t not in index:
                strongconnect(t)
        return out

    def topo_order(self) -> list[str]:
        """Tables in parents-first order (write order: a constrained
        destination accepts parents before children — reference op #16
        writes rows parent-first via recursion; we write tables in this
        order).  Cycles are kept adjacent as an SCC block.
        """
        # Tarjan emits SCCs in reverse topological order of the
        # child->parent condensation, i.e. parents (sinks) first.
        return [t for comp in self.sccs() for t in sorted(comp)]

    def has_cycle(self, table: str) -> bool:
        """True if *table* participates in an FK cycle (incl. self-ref)."""
        for fk in self.fks:
            if fk.table == table and fk.ref_table == table:
                return True
        for comp in self.sccs():
            if table in comp and len(comp) > 1:
                return True
        return False


def tpch_registry() -> ConstraintRegistry:
    """The FK graph of the driver testdata (FIXTURES.md §A)."""
    fk = ForeignKey
    return ConstraintRegistry(
        pks={
            "region": ("r_regionkey",),
            "nation": ("n_nationkey",),
            "customer": ("c_custkey",),
            "supplier": ("s_suppkey",),
            "part": ("p_partkey",),
            "orders": ("o_orderkey",),
            # The testdata violates the nominal (l_orderkey, l_linenumber)
            # PK (duplicate pairs exist at every SF; full rows ARE unique),
            # so lineitem is treated as a no-PK table — whole-row keys,
            # the reference's `_exists` fallback for PK-less tables.
            "lineitem": (),
            "events": ("event_id",),
            "documents": ("doc_id",),
            "embeddings": ("vec_id",),
        },
        fks=[
            fk("nation", ("n_regionkey",), "region", ("r_regionkey",)),
            fk("customer", ("c_nationkey",), "nation", ("n_nationkey",)),
            fk("supplier", ("s_nationkey",), "nation", ("n_nationkey",)),
            fk("orders", ("o_custkey",), "customer", ("c_custkey",)),
            fk("lineitem", ("l_orderkey",), "orders", ("o_orderkey",)),
            fk("lineitem", ("l_partkey",), "part", ("p_partkey",)),
            fk("lineitem", ("l_suppkey",), "supplier", ("s_suppkey",)),
            # weak/policy-optional edge (FIXTURES.md): events.user_id -> customer
            fk("events", ("user_id",), "customer", ("c_custkey",)),
        ],
    )
