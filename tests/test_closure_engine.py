"""Engine unit tests over the reference-style fixture family
(FIXTURES.md §B): FK chains, a many-to-many diamond, a self-referential
table, and a no-PK table — the invariants the reference's own
test_subsetter.py asserts (SURVEY.md §5), re-expressed set-at-a-time.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from rdbms_subsetter_spark.catalog import Catalog
from rdbms_subsetter_spark.closure import ClosureEngine, count_report
from rdbms_subsetter_spark.constraints import ConstraintRegistry, ForeignKey
from rdbms_subsetter_spark.sampling import SamplePlan, sample_exact_n
from rdbms_subsetter_spark.writer import plan_preview, sequence_resync_report, write_subset
from tests.conftest import SF_MED, SF_SMALL, count_jobs


def zeppelin_registry() -> ConstraintRegistry:
    fk = ForeignKey
    return ConstraintRegistry(
        pks={
            "state": ("abbrev",),
            "city": ("city_id",),
            "landmark": ("landmark_id",),
            "zeppelin": ("zeppelin_id",),
            "zeppelin_sighting": ("sighting_id",),
            "employee": ("emp_id",),
            "log_line": (),
        },
        fks=[
            fk("city", ("state_abbrev",), "state", ("abbrev",)),
            fk("landmark", ("city_id",), "city", ("city_id",)),
            fk("zeppelin_sighting", ("zeppelin_id",), "zeppelin", ("zeppelin_id",)),
            fk("zeppelin_sighting", ("landmark_id",), "landmark", ("landmark_id",)),
            fk("employee", ("manager_id",), "employee", ("emp_id",)),  # self-ref
        ],
    )


@pytest.fixture(scope="module")
def zeppelin_dir(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("zeppelin")
    ts = dt.datetime(2024, 1, 1)
    data = {
        "state": (
            [("CA", "California"), ("OR", "Oregon"), ("WA", "Washington"), ("NV", "Nevada")],
            "abbrev string, name string",
        ),
        "city": (
            [(1, "SF", "CA"), (2, "LA", "CA"), (3, "Portland", "OR"),
             (4, "Seattle", "WA"), (5, "Reno", "NV")],
            "city_id long, name string, state_abbrev string",
        ),
        "landmark": (
            [(10, "Golden Gate", 1), (11, "Hollywood", 2), (12, "Rose Garden", 3),
             (13, "Space Needle", 4), (14, "Casino Row", 5)],
            "landmark_id long, name string, city_id long",
        ),
        "zeppelin": (
            [(100, "Graf"), (101, "Hindenburg"), (102, "Akron")],
            "zeppelin_id long, name string",
        ),
        "zeppelin_sighting": (
            [(1000, 100, 10, ts), (1001, 100, 11, ts), (1002, 101, 12, ts),
             (1003, 102, 13, ts), (1004, 101, 10, ts), (1005, 102, 14, ts)],
            "sighting_id long, zeppelin_id long, landmark_id long, sighted_at timestamp",
        ),
        # chain 1 <- 2 <- 3 <- 4 (CEO emp_id=1 has NULL manager)
        "employee": (
            [(1, "ceo", None), (2, "vp", 1), (3, "dir", 2), (4, "ic", 3), (5, "ic2", 2)],
            "emp_id long, name string, manager_id long",
        ),
        "log_line": (
            [("boot", ts), ("boot", ts), ("shutdown", ts)],  # duplicate full rows
            "message string, logged_at timestamp",
        ),
    }
    for name, (rows, schema) in data.items():
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(out / f"{name}.parquet")
        )
    return str(out)


@pytest.fixture()
def zcat(spark, zeppelin_dir):
    return Catalog(spark, zeppelin_dir, registry=zeppelin_registry())


def assert_integrity(eng: ClosureEngine, rows: dict) -> None:
    viol = eng.integrity_violations(rows)
    assert viol and all(v == 0 for v in viol.values()), f"violations: {viol}"


# ---------------------------------------------------------------------------
# graph machinery
# ---------------------------------------------------------------------------


def test_topo_order_parents_first():
    reg = zeppelin_registry()
    order = reg.topo_order()
    pos = {t: i for i, t in enumerate(order)}
    for fk in reg.fks:
        if fk.table != fk.ref_table:
            assert pos[fk.ref_table] < pos[fk.table], f"{fk.ref_table} must precede {fk.table}"


def test_cycle_detection():
    reg = zeppelin_registry()
    assert reg.has_cycle("employee")
    assert not reg.has_cycle("zeppelin_sighting")
    # mutual 2-cycle
    reg2 = ConstraintRegistry(
        pks={"a": ("id",), "b": ("id",)},
        fks=[
            ForeignKey("a", ("b_id",), "b", ("id",)),
            ForeignKey("b", ("a_id",), "a", ("id",)),
        ],
    )
    assert reg2.has_cycle("a") and reg2.has_cycle("b")
    comp = [c for c in reg2.sccs() if len(c) == 2]
    assert comp and set(comp[0]) == {"a", "b"}


# ---------------------------------------------------------------------------
# closure invariants (reference test_subsetter.py analogs)
# ---------------------------------------------------------------------------


def test_diamond_closure_integrity(spark, zcat):
    """Sighting seeds must pull both diamond parents and the chain up."""
    eng = ClosureEngine(zcat)
    seed = zcat["zeppelin_sighting"].filter(F.col("sighting_id").isin([1000, 1002]))
    keys = eng.close_parents({"zeppelin_sighting": seed.select("sighting_id")})
    rows = {t: eng.rows_for_keys(t, k) for t, k in keys.items()}
    assert_integrity(eng, rows)
    assert set(rows.keys()) == {"zeppelin_sighting", "zeppelin", "landmark", "city", "state"}
    # closure is minimal: sighting 1000+1002 → zeppelins {100,101},
    # landmarks {10,12} → cities {1,3} → states {CA,OR}
    assert {r["zeppelin_id"] for r in rows["zeppelin"].collect()} == {100, 101}
    assert {r["abbrev"] for r in rows["state"].collect()} == {"CA", "OR"}


def test_self_ref_closure_terminates_full_chain(spark, zcat):
    """Seeding the deepest IC must pull the whole manager chain and stop
    (the reference's ``_exists`` base case → our anti-join fixpoint)."""
    eng = ClosureEngine(zcat)
    seed = zcat["employee"].filter(F.col("emp_id") == 4)
    keys = eng.close_parents({"employee": seed.select("emp_id")})
    got = sorted(r["emp_id"] for r in eng.rows_for_keys("employee", keys["employee"]).collect())
    assert got == [1, 2, 3, 4]  # ic -> dir -> vp -> ceo, NULL manager stops


def test_mutual_cycle_closure_terminates(spark, tmp_path):
    a = spark.createDataFrame([(1, 2), (2, None), (3, 1)], "id long, b_id long")
    b = spark.createDataFrame([(1, 3), (2, 1), (3, None)], "id long, a_id long")
    a.coalesce(1).write.parquet(str(tmp_path / "a.parquet"))
    b.coalesce(1).write.parquet(str(tmp_path / "b.parquet"))
    reg = ConstraintRegistry(
        pks={"a": ("id",), "b": ("id",)},
        fks=[
            ForeignKey("a", ("b_id",), "b", ("id",)),
            ForeignKey("b", ("a_id",), "a", ("id",)),
        ],
    )
    cat = Catalog(spark, str(tmp_path), registry=reg, tables=["a", "b"])
    eng = ClosureEngine(cat)
    seed = cat["a"].filter(F.col("id") == 1)
    keys = eng.close_parents({"a": seed.select("id")})
    rows = {t: eng.rows_for_keys(t, k) for t, k in keys.items()}
    assert_integrity(eng, rows)
    # a1 -> b2 -> a1 (cycle closes); plus nothing else
    assert sorted(r["id"] for r in rows["a"].collect()) == [1]
    assert sorted(r["id"] for r in rows["b"].collect()) == [2]


def test_mutual_cycle_closure_job_count(spark, tmp_path):
    """The cyclic fixpoint learns whether a round added keys from the
    checkpoint that makes the round: on the mutual-cycle graph above a
    warm ``close_parents`` runs 9 Spark jobs (11 when each round also
    counted its new keys), at 4 and 8 local cores alike."""
    a = spark.createDataFrame([(1, 2), (2, None), (3, 1)], "id long, b_id long")
    b = spark.createDataFrame([(1, 3), (2, 1), (3, None)], "id long, a_id long")
    a.coalesce(1).write.parquet(str(tmp_path / "a.parquet"))
    b.coalesce(1).write.parquet(str(tmp_path / "b.parquet"))
    reg = ConstraintRegistry(
        pks={"a": ("id",), "b": ("id",)},
        fks=[
            ForeignKey("a", ("b_id",), "b", ("id",)),
            ForeignKey("b", ("a_id",), "a", ("id",)),
        ],
    )
    cat = Catalog(spark, str(tmp_path), registry=reg, tables=["a", "b"])
    eng = ClosureEngine(cat)

    def close():
        return eng.close_parents({"a": cat["a"].filter(F.col("id") == 1).select("id")})

    close()  # warm: the first run also lists and reads the new files
    keys, jobs = count_jobs(spark, close)
    assert sorted(r["id"] for r in keys["b"].collect()) == [2]
    assert jobs == 9


def test_child_pull_cap(spark, zcat):
    eng = ClosureEngine(zcat)
    keys = {"zeppelin": zcat["zeppelin"].select("zeppelin_id")}
    edges = [fk for fk in zcat.registry.fks if fk.table == "zeppelin_sighting" and fk.ref_table == "zeppelin"]
    keys = eng.pull_children(keys, k=1, edges=edges)
    picked = eng.rows_for_keys("zeppelin_sighting", keys["zeppelin_sighting"])
    per_parent = picked.groupBy("zeppelin_id").count().collect()
    assert all(r["count"] <= 1 for r in per_parent)
    assert len(per_parent) == 3  # every zeppelin got its child


def test_create_subset_policies_and_force(spark, zcat):
    eng = ClosureEngine(zcat)
    plan = SamplePlan(fraction=0.5, full_tables=["state"], exclude_tables=["log_line"], children=2, seed=7)
    forced = zcat["zeppelin_sighting"].filter(F.col("sighting_id") == 1005)
    res = eng.create_subset(plan, seeds={"zeppelin_sighting": forced.select("sighting_id")})
    counts = {
        r["table_name"]: r["n_rows"]
        for r in count_report(res.rows, "table_name", "n_rows").collect()
    }
    assert "log_line" not in counts  # excluded (op #13)
    assert counts["state"] == 4  # full table policy
    assert_integrity(eng, res.rows)
    # forced row present with closure (op #14): 1005 -> zeppelin 102, landmark 14
    sightings = {r["sighting_id"] for r in res.rows["zeppelin_sighting"].collect()}
    assert 1005 in sightings
    assert 102 in {r["zeppelin_id"] for r in res.rows["zeppelin"].collect()}
    assert 14 in {r["landmark_id"] for r in res.rows["landmark"].collect()}


def test_no_pk_table_whole_row_keys(spark, zcat):
    eng = ClosureEngine(zcat)
    plan = SamplePlan(fraction=1.0, seed=1)
    res = eng.create_subset(plan)
    # log_line has duplicate full rows; whole-row keys deduplicate them,
    # mirroring the reference's no-PK _exists fallback
    assert res.rows["log_line"].count() == 2


# ---------------------------------------------------------------------------
# sampling determinism + sizing
# ---------------------------------------------------------------------------


def test_sample_exact_n_deterministic(spark, zcat):
    df = zcat["zeppelin_sighting"]
    a = sorted(r["sighting_id"] for r in sample_exact_n(df, 3, seed=42, pk=("sighting_id",)).collect())
    b = sorted(r["sighting_id"] for r in sample_exact_n(df, 3, seed=42, pk=("sighting_id",)).collect())
    c = sorted(r["sighting_id"] for r in sample_exact_n(df, 3, seed=43, pk=("sighting_id",)).collect())
    assert a == b and len(a) == 3
    assert a != c or True  # different seed usually differs; never flaky


def test_sizing_formulas():
    from rdbms_subsetter_spark.sampling import SamplePolicy

    assert SamplePolicy("fraction", 0.25).target(1000) == 250
    assert SamplePolicy("logarithmic", 0.5).target(1_000_000) == 1000
    assert SamplePolicy("full").target(7) == 7
    assert SamplePolicy("exclude").target(7) == 0
    assert SamplePolicy("logarithmic", 0.5).target(0) == 0


# ---------------------------------------------------------------------------
# writer
# ---------------------------------------------------------------------------


def test_write_subset_topo_order_and_roundtrip(spark, zcat, tmp_path):
    eng = ClosureEngine(zcat)
    plan = SamplePlan(fraction=1.0, seed=1)
    res = eng.create_subset(plan)
    written = write_subset(res.rows, zcat.registry, str(tmp_path / "out"))
    order = written.order
    pos = {t: i for i, t in enumerate(order)}
    for fk in zcat.registry.fks:
        if fk.table != fk.ref_table and fk.table in pos and fk.ref_table in pos:
            assert pos[fk.ref_table] < pos[fk.table]
    back = Catalog(spark, str(tmp_path / "out"), registry=zcat.registry)
    for t in order:
        assert back[t].count() == res.rows[t].count() == written.rows[t]


def test_plan_preview_and_seq_resync(spark, zcat, tmp_path):
    plan = SamplePlan(fraction=0.5)
    lines = {pl.table: pl for pl in plan_preview(zcat, plan)}
    assert lines["state"].source_rows == 4
    assert lines["state"].target_rows == 2
    # the resync values are the PK maxima the writes observed
    written = write_subset(
        {t: zcat[t] for t in ["city", "zeppelin"]}, zcat.registry, str(tmp_path)
    )
    assert sequence_resync_report(written) == {"city": 5, "zeppelin": 102}


def test_schema_check_mismatch(spark, zcat, zeppelin_dir, tmp_path):
    good = Catalog(spark, zeppelin_dir, registry=zcat.registry)
    zcat.schema_check(good)  # identical -> ok
    # missing table -> error
    zcat["state"].write.parquet(str(tmp_path / "state.parquet"))
    partial = Catalog(spark, str(tmp_path), registry=zcat.registry, tables=["state"])
    with pytest.raises(ValueError, match="table sets differ"):
        zcat.schema_check(partial)

def test_incremental_delta_disjoint_and_closed(spark, zcat):
    """incremental_delta: delta keys are disjoint from the existing
    subset, and existing ∪ delta is a closed subset (no FK violations) —
    the refresh invariant the reference's `_exists` recursion gives."""
    eng = ClosureEngine(zcat)
    sightings = zcat["zeppelin_sighting"].select("sighting_id")
    existing = eng.close_parents(
        {"zeppelin_sighting": sightings.filter(F.col("sighting_id").isin([1000, 1002]))}
    )
    delta = eng.incremental_delta(
        existing,
        {"zeppelin_sighting": sightings.filter(F.col("sighting_id").isin([1003, 1004]))},
    )
    # disjoint per table
    for t, d in delta.items():
        if t in existing:
            kc = list(d.columns)
            assert d.join(existing[t].select(*kc), on=kc, how="left_semi").count() == 0, t
    # union is closed
    union = dict(existing)
    for t, d in delta.items():
        union[t] = union[t].unionByName(d).distinct() if t in union else d
    rows = {t: eng.rows_for_keys(t, k) for t, k in union.items()}
    assert_integrity(eng, rows)
    # 1004 shares zeppelin 101 + landmark 10 with the existing subset:
    # those parents must NOT reappear in the delta
    new_zeps = {r["zeppelin_id"] for r in eng.rows_for_keys(
        "zeppelin", delta["zeppelin"]).collect()}
    assert new_zeps == {102}  # only sighting 1003's zeppelin is new


def test_compound_fk_closure(spark, tmp_path):
    """Multi-column FK edges close correctly (the registry and engine
    carry column TUPLES; single-column testdata never exercises it)."""
    from rdbms_subsetter_spark.constraints import ConstraintRegistry, ForeignKey

    parent = spark.createDataFrame(
        [(1, "a", 10.0), (1, "b", 20.0), (2, "a", 30.0), (2, "b", 40.0)],
        "region long, code string, v double",
    )
    child = spark.createDataFrame(
        [(100, 1, "a"), (101, 1, "a"), (102, 2, "b"), (103, None, None)],
        "id long, p_region long, p_code string",
    )
    parent.write.parquet(str(tmp_path / "parent.parquet"))
    child.write.parquet(str(tmp_path / "child.parquet"))
    reg = ConstraintRegistry(
        pks={"parent": ("region", "code"), "child": ("id",)},
        fks=[ForeignKey("child", ("p_region", "p_code"), "parent", ("region", "code"))],
    )
    cat = Catalog(spark, str(tmp_path), registry=reg)
    eng = ClosureEngine(cat)
    keys = eng.close_parents(
        {"child": cat["child"].where(F.col("id").isin(100, 102, 103)).select("id")}
    )
    got = sorted(
        (r["region"], r["code"])
        for r in eng.rows_for_keys("parent", keys["parent"]).collect()
    )
    # 100 -> (1,a); 102 -> (2,b); 103 has NULL fk cols -> contributes nothing
    assert got == [(1, "a"), (2, "b")]
    rows = {t: eng.rows_for_keys(t, k) for t, k in keys.items()}
    assert_integrity(eng, rows)


# ---------------------------------------------------------------------------
# sampled-path key sets against pinned values
# ---------------------------------------------------------------------------

#: Per-table ``(key count, sum of xxhash64 over the sorted key columns)``
#: of ``create_subset(SamplePlan(fraction=0.05, seed=42))``, pinned from
#: the engine's former replay shape, which re-ran each table's closure
#: subtree per consumer instead of checkpointing it.
_SAMPLED_KEY_PINS = {
    SF_MED: {
        "customer": (625, -128872343754388380867),
        "orders": (2390, 536738925902252604308),
    },
    SF_SMALL: {
        "customer": (149, 11002404460938056748),
        "documents": (25, 17547225408598851933),
        "embeddings": (25, 17547225408598851933),
        "events": (94, 70184905581711121179),
        "lineitem": (2092, 118014144337876702547),
        "nation": (25, 22486007333088700813),
        "orders": (686, -85398646106622357496),
        "part": (199, 58328329422377945115),
        "region": (5, 3249578026290709353),
        "supplier": (10, -10285274824041473600),
    },
}


def _key_digest(keys) -> tuple[int, int]:
    """Order-independent fingerprint of a key set: its row count and
    the sum of each row's xxhash64 over the sorted key columns."""
    hashes = [r[0] for r in keys.select(F.xxhash64(*sorted(keys.columns))).collect()]
    return len(hashes), sum(hashes)


@pytest.mark.parametrize(
    "sf_dir, keep",
    [
        (SF_MED, {"customer", "orders"}),  # the CLI benchmark shape
        pytest.param(SF_SMALL, None, marks=pytest.mark.slow),
    ],
    ids=["sf0.01-customer-orders", "sf0.001-all"],
)
def test_sampled_subset_keys_match_replay_pins(spark, sf_dir, keep):
    """``create_subset`` on a sampled plan, with every key set
    checkpointed once where it is made, selects exactly the keys the
    replay shape selected: checkpointing changes how often keys are
    computed, never which keys."""
    cat = Catalog(spark, sf_dir)
    exclude = [t for t in cat.tables() if keep is not None and t not in keep]
    plan = SamplePlan(fraction=0.05, seed=42, exclude_tables=exclude)
    keys = ClosureEngine(cat).create_subset(plan).keys
    got = {t: _key_digest(k) for t, k in sorted(keys.items())}
    assert got == _SAMPLED_KEY_PINS[sf_dir]
    assert all(n > 0 for n, _ in got.values())
