"""Property-based closure testing (hypothesis): for ARBITRARY FK graphs
— chains, diamonds, self-references, mutual cycles — and arbitrary
consistent data with NULL FKs, the closure must (a) terminate, (b) keep
every seed row, and (c) produce a referentially closed subset.

This generalizes the reference's hand-built zeppelin fixtures to the
whole graph family the engine claims to handle.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from rdbms_subsetter_spark.closure import ClosureEngine
from rdbms_subsetter_spark.constraints import ConstraintRegistry, ForeignKey


class DictCatalog:
    """Minimal in-memory catalog (no parquet round-trip) — enough for
    the close_parents/rows_for_keys/integrity paths."""

    def __init__(self, dfs: dict, registry: ConstraintRegistry):
        self._dfs = dfs
        self.registry = registry

    def table(self, name: str):
        return self._dfs[name]

    def __getitem__(self, name: str):
        return self._dfs[name]

    def tables(self):
        return list(self._dfs)


def test_composite_fk_closure(spark):
    """Multi-column FK: shipment.(okey, lineno) -> order_line PK."""
    order_line = spark.createDataFrame(
        [(1, 1, "a"), (1, 2, "b"), (2, 1, "c"), (3, 1, "d")],
        "okey long, lineno long, payload string",
    )
    shipment = spark.createDataFrame(
        [(10, 1, 1), (11, 1, 2), (12, 2, 1), (13, None, None)],
        "ship_id long, ship_okey long, ship_lineno long",
    )
    registry = ConstraintRegistry(
        pks={"order_line": ("okey", "lineno"), "shipment": ("ship_id",)},
        fks=[ForeignKey("shipment", ("ship_okey", "ship_lineno"), "order_line", ("okey", "lineno"))],
    )
    cat = DictCatalog({"order_line": order_line, "shipment": shipment}, registry)
    eng = ClosureEngine(cat)
    seed = shipment.filter(F.col("ship_id").isin([10, 12, 13])).select("ship_id")
    keys = eng.close_parents({"shipment": seed})
    got = {
        (r["okey"], r["lineno"])
        for r in eng.rows_for_keys("order_line", keys["order_line"]).collect()
    }
    # only the two referenced composite keys; the NULL-FK shipment (13)
    # pulls nothing (na.drop drops rows with ANY null key component)
    assert got == {(1, 1), (2, 1)}
    ships = {r["ship_id"] for r in eng.rows_for_keys("shipment", keys["shipment"]).collect()}
    assert ships == {10, 12, 13}


@pytest.mark.slow
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_closure_integrity_on_random_graphs(spark, data):
    n_tables = data.draw(st.integers(2, 4), label="n_tables")
    tables = [f"t{i}" for i in range(n_tables)]
    sizes = {t: data.draw(st.integers(1, 10), label=f"size_{t}") for t in tables}

    fks: list[ForeignKey] = []
    for child in tables:
        for j in range(data.draw(st.integers(0, 2), label=f"nfk_{child}")):
            parent = data.draw(st.sampled_from(tables), label=f"ref_{child}_{j}")
            fks.append(ForeignKey(child, (f"fk{j}",), parent, ("id",)))
    registry = ConstraintRegistry(pks={t: ("id",) for t in tables}, fks=fks)

    dfs = {}
    for t in tables:
        fk_cols = sorted({fk.columns[0] for fk in registry.parents_of(t)})
        rows = []
        for rid in range(sizes[t]):
            vals = [rid]
            for col in fk_cols:
                parent = next(
                    fk.ref_table for fk in registry.parents_of(t) if fk.columns[0] == col
                )
                vals.append(
                    data.draw(
                        st.one_of(st.none(), st.integers(0, sizes[parent] - 1)),
                        label=f"{t}.{col}[{rid}]",
                    )
                )
            rows.append(tuple(vals))
        schema = ", ".join(["id long"] + [f"{c} long" for c in fk_cols])
        dfs[t] = spark.createDataFrame(rows, schema)

    seed_table = data.draw(st.sampled_from(tables), label="seed_table")
    seed_ids = data.draw(
        st.lists(st.integers(0, sizes[seed_table] - 1), min_size=1, max_size=3, unique=True),
        label="seed_ids",
    )

    cat = DictCatalog(dfs, registry)
    eng = ClosureEngine(cat)
    seed = dfs[seed_table].filter(F.col("id").isin(seed_ids)).select("id")
    keys = eng.close_parents({seed_table: seed})  # (a) terminates

    rows = {t: eng.rows_for_keys(t, k) for t, k in keys.items()}
    # (b) every seed row survives
    got_seed = {r["id"] for r in rows[seed_table].collect()}
    assert set(seed_ids) <= got_seed

    # (c) referential closure: every non-null FK value of every selected
    # row resolves to a selected parent row — including edges whose
    # parent table never entered the key map (then no row may need it)
    for fk in registry.fks:
        if fk.table not in rows:
            continue
        needed = rows[fk.table].select(
            F.col(fk.columns[0]).alias("id")
        ).na.drop().distinct()
        if fk.ref_table in rows:
            missing = needed.join(rows[fk.ref_table].select("id"), on="id", how="left_anti")
            assert missing.count() == 0, f"unresolved {fk}"
        else:
            assert needed.count() == 0, f"parent table missing for {fk}"


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_incremental_delta_on_random_graphs(spark, data):
    """incremental_delta invariants on arbitrary acyclic-ish FK data:
    (a) delta key sets are disjoint from the existing subset,
    (b) existing ∪ delta is referentially closed,
    (c) the delta equals full-closure(existing-seed ∪ new-seed) minus
        closure(existing-seed) per table — nothing missing, no extras."""
    n_tables = data.draw(st.integers(2, 4), label="n_tables")
    tables = [f"t{i}" for i in range(n_tables)]
    sizes = {t: data.draw(st.integers(2, 8), label=f"size_{t}") for t in tables}

    fks: list[ForeignKey] = []
    for ci, child in enumerate(tables):
        for j in range(data.draw(st.integers(0, 2), label=f"nfk_{child}")):
            # parents only earlier in the list: acyclic by construction
            parent = data.draw(st.sampled_from(tables[: ci + 1]), label=f"ref_{child}_{j}")
            fks.append(ForeignKey(child, (f"fk{j}",), parent, ("id",)))
    registry = ConstraintRegistry(pks={t: ("id",) for t in tables}, fks=fks)

    dfs = {}
    for t in tables:
        fk_cols = sorted({fk.columns[0] for fk in registry.parents_of(t)})
        rows = []
        for rid in range(sizes[t]):
            vals = [rid]
            for col in fk_cols:
                parent = next(
                    fk.ref_table for fk in registry.parents_of(t) if fk.columns[0] == col
                )
                vals.append(
                    data.draw(
                        st.one_of(st.none(), st.integers(0, sizes[parent] - 1)),
                        label=f"{t}.{col}[{rid}]",
                    )
                )
            rows.append(tuple(vals))
        schema = ", ".join(["id long"] + [f"{c} long" for c in fk_cols])
        dfs[t] = spark.createDataFrame(rows, schema)

    seed_table = tables[-1]
    all_ids = list(range(sizes[seed_table]))
    k = data.draw(st.integers(1, max(1, len(all_ids) - 1)), label="split_at")
    first_ids, new_ids = all_ids[:k], all_ids[k:]
    if not new_ids:
        new_ids = [all_ids[0]]

    cat = DictCatalog(dfs, registry)
    eng = ClosureEngine(cat)

    def seed(ids):
        return dfs[seed_table].filter(F.col("id").isin(ids)).select("id")

    existing = eng.close_parents({seed_table: seed(first_ids)})
    delta = eng.incremental_delta(existing, {seed_table: seed(new_ids)})

    # (a) disjoint
    for t, d in delta.items():
        if t in existing:
            kc = list(d.columns)
            assert d.join(existing[t].select(*kc), on=kc, how="left_semi").count() == 0, t

    # (b) union closed
    union = dict(existing)
    for t, d in delta.items():
        union[t] = union[t].unionByName(d).distinct() if t in union else d
    rows = {t: eng.rows_for_keys(t, kk) for t, kk in union.items()}
    for fk in registry.fks:
        if fk.table not in rows:
            continue
        needed = rows[fk.table].select(F.col(fk.columns[0]).alias("id")).na.drop().distinct()
        have = rows.get(fk.ref_table)
        n_orphans = (
            needed.count() if have is None
            else needed.join(have.select("id"), on="id", how="left_anti").count()
        )
        assert n_orphans == 0, (fk, "orphans after incremental refresh")

    # (c) delta ≡ closure(first ∪ new) − closure(first), per table
    full = eng.close_parents({seed_table: seed(first_ids + new_ids)})
    for t in set(full) | set(delta):
        kc = list(full.get(t, delta[t]).columns)
        want = full[t]
        if t in existing:
            want = want.join(existing[t].select(*kc), on=kc, how="left_anti")
        got = delta.get(t)
        n_want = want.count()
        n_got = got.count() if got is not None else 0
        assert n_want == n_got, (t, n_want, n_got)
        if got is not None and n_want:
            assert want.exceptAll(got.select(*kc)).count() == 0, t
