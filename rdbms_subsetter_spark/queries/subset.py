"""The reference's own surface, set-at-a-time: the FK-closure subset and
its integrity check, row counts, the equality predicate, point lookups,
semi/anti joins, capped child pulls (top-k, with ties), modulo,
logarithmic, stratified and weighted sampling, forced rows, the
sequence-resync report, the plan preview, the reflected schema, the
incremental subset refresh, and FK reachability as ``WITH RECURSIVE``.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from rdbms_subsetter_spark.catalog import Catalog, TPCH_TABLES
from rdbms_subsetter_spark.closure import ClosureEngine, SubsetResult, count_report
from rdbms_subsetter_spark.queries import register
from rdbms_subsetter_spark.sampling import SamplePlan, sample_modulo


# lineitem's total column order (the deterministic sort used wherever the
# reference sorted randomly) — parquet column order, no NULLs in testdata.
LI_COLS = (
    "l_orderkey,l_partkey,l_suppkey,l_linenumber,l_quantity,l_extendedprice,"
    "l_discount,l_tax,l_returnflag,l_linestatus,l_shipdate"
)


# The flagship subset as oracle CTEs (shared by several oracles).
SUBSET_CTES = f"""
seed_orders AS (SELECT * FROM orders WHERE o_orderkey % 20 = 0),
cust AS (SELECT * FROM customer WHERE c_custkey IN (SELECT o_custkey FROM seed_orders)),
li AS (
  SELECT * EXCLUDE (rn) FROM (
    SELECT l.*, row_number() OVER (PARTITION BY l_orderkey ORDER BY {LI_COLS}) AS rn
    FROM lineitem l
    WHERE l_orderkey IN (SELECT o_orderkey FROM seed_orders)
  ) WHERE rn <= 3),
prt AS (SELECT * FROM part WHERE p_partkey IN (SELECT l_partkey FROM li)),
sup AS (SELECT * FROM supplier WHERE s_suppkey IN (SELECT l_suppkey FROM li)),
nat AS (SELECT * FROM nation WHERE n_nationkey IN
        (SELECT c_nationkey FROM cust UNION SELECT s_nationkey FROM sup)),
reg AS (SELECT * FROM region WHERE r_regionkey IN (SELECT n_regionkey FROM nat))
"""


def flagship_subset(eng: ClosureEngine) -> SubsetResult:
    """The flagship subset: one full reference run
    (``rdbms-subsetter SRC DEST 0.05`` with a deterministic seed) on
    :meth:`ClosureEngine.create_subset`::

      seed orders (pk % 20 == 0)
        → parent closure  orders→customer→nation→region            (op #9)
        → capped child pull  lineitem: top-3 per order by PK        (op #10)
        → re-close parents  lineitem→{part, supplier}→nation→region (op #9)

    ``fraction=0.0`` samples no table, so the seed is the only source
    of keys.  Deterministic (modulo seed predicate + PK-ordered child
    cap), hence the same subset is expressible as :data:`SUBSET_CTES`.

    Like every engine run, each key set that gains a contribution is
    checkpointed once, eagerly, where it is made, so the integrity and
    summary branches read it instead of replaying the closure subtree
    per FK edge.
    """
    li_edge = [
        fk for fk in eng.registry.fks
        if fk.table == "lineitem" and fk.ref_table == "orders"
    ]
    return eng.create_subset(
        SamplePlan(fraction=0.0, children=3),
        seeds={"orders": sample_modulo(eng.catalog["orders"], "o_orderkey", 20)},
        child_pull_edges=li_edge,
    )


@register("subset_summary", oracle=f"""
WITH {SUBSET_CTES}
SELECT 'customer' AS table_name, count(*) AS n_rows FROM cust
UNION ALL SELECT 'lineitem', count(*) FROM li
UNION ALL SELECT 'nation', count(*) FROM nat
UNION ALL SELECT 'orders', count(*) FROM seed_orders
UNION ALL SELECT 'part', count(*) FROM prt
UNION ALL SELECT 'region', count(*) FROM reg
UNION ALL SELECT 'supplier', count(*) FROM sup
""")
def q_subset_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-table row counts of the flagship subset (the reference's
    plan/confirm report, op #18), as one lazy plan."""
    rows = flagship_subset(ClosureEngine(Catalog(spark, sf_dir))).rows
    return count_report(dict(sorted(rows.items())), "table_name", "n_rows").orderBy(
        "table_name"
    )


@register("subset_integrity", oracle=f"""
WITH {SUBSET_CTES}
SELECT 'customer(c_nationkey)->nation' AS fk_edge,
       (SELECT count(*) FROM cust WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nat)) AS violations
UNION ALL SELECT 'lineitem(l_orderkey)->orders',
       (SELECT count(*) FROM li WHERE l_orderkey NOT IN (SELECT o_orderkey FROM seed_orders))
UNION ALL SELECT 'lineitem(l_partkey)->part',
       (SELECT count(*) FROM li WHERE l_partkey NOT IN (SELECT p_partkey FROM prt))
UNION ALL SELECT 'lineitem(l_suppkey)->supplier',
       (SELECT count(*) FROM li WHERE l_suppkey NOT IN (SELECT s_suppkey FROM sup))
UNION ALL SELECT 'nation(n_regionkey)->region',
       (SELECT count(*) FROM nat WHERE n_regionkey NOT IN (SELECT r_regionkey FROM reg))
UNION ALL SELECT 'orders(o_custkey)->customer',
       (SELECT count(*) FROM seed_orders WHERE o_custkey NOT IN (SELECT c_custkey FROM cust))
UNION ALL SELECT 'supplier(s_nationkey)->nation',
       (SELECT count(*) FROM sup WHERE s_nationkey NOT IN (SELECT n_nationkey FROM nat))
""")
def q_subset_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FK-violation counts over the flagship subset — all zeros is the
    reference's core invariant (SURVEY.md §5a).  One lazy plan."""
    eng = ClosureEngine(Catalog(spark, sf_dir))
    return eng.integrity_violations_df(flagship_subset(eng).rows).orderBy("fk_edge")


SINGLE_PK = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def _row_counts_sql() -> str:
    return " UNION ALL ".join(
        f"SELECT '{t}' AS table_name, count(*) AS n_rows FROM {t}"
        for t in sorted(TPCH_TABLES)
    )


@register("row_counts", oracle=_row_counts_sql())
def q_row_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op #2/#3: per-table row counts as one lazy union plan."""
    cat = Catalog(spark, sf_dir)
    return count_report({t: cat[t] for t in sorted(cat.tables())}, "table_name", "n_rows")


@register(
    "filter_eq",
    oracle="SELECT * FROM customer WHERE c_mktsegment = 'BUILDING' AND c_nationkey = 5",
)
def q_filter_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op #6: the reference's only predicate form — conjunctive equality."""
    cat = Catalog(spark, sf_dir)
    return cat["customer"].filter(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_nationkey") == 5)
    )


@register("point_lookup", oracle="SELECT * FROM orders WHERE o_orderkey = 42")
def q_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op #7: ``_by_pk`` point lookup."""
    cat = Catalog(spark, sf_dir)
    return cat["orders"].filter(F.col("o_orderkey") == 42)


@register(
    "anti_join_childless",
    oracle="SELECT * FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)",
)
def q_anti_join_childless(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op #8 flavor: customers with no orders (left_anti — the set form
    of the reference's ``_exists`` check)."""
    cat = Catalog(spark, sf_dir)
    return cat["customer"].join(
        cat["orders"].select(F.col("o_custkey").alias("c_custkey")),
        on="c_custkey",
        how="left_anti",
    )


@register(
    "semi_join_parents",
    oracle="SELECT * FROM nation WHERE n_nationkey IN (SELECT s_nationkey FROM supplier)",
)
def q_semi_join_parents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op #9 single step: nations that have at least one supplier."""
    cat = Catalog(spark, sf_dir)
    return cat["nation"].join(
        cat["supplier"].select(F.col("s_nationkey").alias("n_nationkey")),
        on="n_nationkey",
        how="left_semi",
    )


@register("child_topk", oracle=f"""
SELECT * FROM (
  SELECT l.*, row_number() OVER (PARTITION BY l_orderkey ORDER BY {LI_COLS}) AS rn
  FROM lineitem l
) WHERE rn <= 3
""")
def q_child_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op #10: capped child pull over every order — top-3 lineitems per
    order in the deterministic total order."""
    cat = Catalog(spark, sf_dir)
    li = cat["lineitem"]
    w = Window.partitionBy("l_orderkey").orderBy(*[F.col(c) for c in li.columns])
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
    )


@register("sample_fraction", oracle="SELECT * FROM orders WHERE o_orderkey % 10 = 0")
def q_sample_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op #11 (deterministic form): 1/10 modulo sample of orders."""
    cat = Catalog(spark, sf_dir)
    return sample_modulo(cat["orders"], "o_orderkey", 10)


@register("sample_logarithmic", oracle="""
SELECT * FROM orders ORDER BY o_orderkey
LIMIT (SELECT CAST(round(pow(count(*), 0.5), 0) AS BIGINT) FROM orders)
""")
def q_sample_logarithmic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op #12: logarithmic sizing ``n ** fraction`` (reference formula
    ``round(10 ** (log10(n) * f))``), deterministic pick: first n by PK."""
    cat = Catalog(spark, sf_dir)
    n = cat.count_estimate("orders")
    target = int(n**0.5 + 0.5)  # half-up, matching SQL round()
    return cat["orders"].orderBy("o_orderkey").limit(target)


@register("forced_rows_closure", oracle="""
WITH seed_orders AS (SELECT * FROM orders WHERE o_orderkey IN (1, 2, 3)),
cust AS (SELECT * FROM customer WHERE c_custkey IN (SELECT o_custkey FROM seed_orders)),
nat AS (SELECT * FROM nation WHERE n_nationkey IN (SELECT c_nationkey FROM cust)),
reg AS (SELECT * FROM region WHERE r_regionkey IN (SELECT n_regionkey FROM nat))
SELECT 'customer' AS table_name, count(*) AS n_rows FROM cust
UNION ALL SELECT 'nation', count(*) FROM nat
UNION ALL SELECT 'orders', count(*) FROM seed_orders
UNION ALL SELECT 'region', count(*) FROM reg
""")
def q_forced_rows_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op #14: --force seed rows + their full parent closure."""
    cat = Catalog(spark, sf_dir)
    eng = ClosureEngine(cat)
    seed = cat["orders"].filter(F.col("o_orderkey").isin([1, 2, 3]))
    keys = eng.close_parents({"orders": seed.select("o_orderkey")})
    return count_report(
        {t: eng.rows_for_keys(t, k) for t, k in sorted(keys.items())},
        "table_name",
        "n_rows",
    )


def _seq_resync_sql() -> str:
    return " UNION ALL ".join(
        f"SELECT '{t}' AS table_name, CAST(max({pk}) AS BIGINT) AS max_pk FROM {t}"
        for t, pk in sorted(SINGLE_PK.items())
    )


@register("sequence_resync", oracle=_seq_resync_sql())
def q_sequence_resync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op #17: max(pk) per single-column-PK table — the setval() report."""
    cat = Catalog(spark, sf_dir)
    parts = [
        cat[t]
        .agg(F.max(F.col(pk).cast("long")).alias("max_pk"))
        .select(F.lit(t).alias("table_name"), "max_pk")
        for t, pk in sorted(SINGLE_PK.items())
    ]
    return reduce(lambda a, b: a.unionByName(b), parts)


def _plan_preview_sql() -> str:
    return " UNION ALL ".join(
        f"SELECT '{t}' AS table_name, count(*) AS source_rows, "
        f"CAST(floor(count(*) * 0.1) AS BIGINT) AS target_fraction, "
        f"CAST(round(pow(count(*), 0.5), 0) AS BIGINT) AS target_log FROM {t}"
        for t in sorted(TPCH_TABLES)
    )


@register("plan_preview", oracle=_plan_preview_sql())
def q_plan_preview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op #18: the confirm-report — per-table source rows and both
    sizing targets at fraction 0.1 / log 0.5 (counts from parquet
    footers, no scan)."""
    cat = Catalog(spark, sf_dir)
    rows = []
    for t in sorted(cat.tables()):
        n = cat.count_estimate(t)
        rows.append((t, n, int(n * 0.1), int(n**0.5 + 0.5)))
    return spark.createDataFrame(
        rows, "table_name string, source_rows long, target_fraction long, target_log long"
    )


# reflected schema vs DuckDB's information_schema over the same
# parquet files: catalogs must agree on columns AND order
@register("schema_overview", oracle="""
SELECT table_name, column_name,
       CAST(ordinal_position - 1 AS INT) AS position
FROM information_schema.columns
WHERE table_name IN ('customer','documents','embeddings','events',
                     'lineitem','nation','orders','part','region','supplier')
""")
def q_schema_overview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op #1/#19: reflected schema as data — (table, column, position)."""
    cat = Catalog(spark, sf_dir)
    rows = [
        (t, f.name, i)
        for t in sorted(cat.tables())
        for i, f in enumerate(cat[t].schema.fields)
    ]
    return spark.createDataFrame(rows, "table_name string, column_name string, position int")


STRATA_RATES = {"BUILDING": 50, "MACHINERY": 20, "AUTOMOBILE": 5}


@register("sample_stratified", oracle=f"""
SELECT * FROM customer
WHERE c_custkey % 100 < (CASE c_mktsegment {" ".join(
    f"WHEN '{seg}' THEN {pct}" for seg, pct in sorted(STRATA_RATES.items())
)} ELSE 0 END)
""")
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample of customers (per-segment rates)."""
    from rdbms_subsetter_spark.sampling import sample_stratified_modulo

    cat = Catalog(spark, sf_dir)
    return sample_stratified_modulo(cat["customer"], "c_custkey", "c_mktsegment", STRATA_RATES)


# ---------------------------------------------------------------------------
# recursive CTE — FK reachability as declarative SQL
# ---------------------------------------------------------------------------

# One SQL text, two engines. Node ids are namespaced strings so the
# heterogeneous FK hierarchy region<-nation<-customer<-orders becomes a
# single edge list; depth counts are the closure frontier sizes.
# Spark 4 compiles the recursion into an iterative UnionLoop plan —
# the declarative twin of closure.py's semi-join fixpoint; each level is
# one shuffle join against the (small, reusable) edge relation.
_RECURSIVE_CTE_SQL = """
WITH RECURSIVE
edges(node, parent) AS (
  SELECT 'n' || CAST(n_nationkey AS STRING), 'r' || CAST(n_regionkey AS STRING) FROM nation
  UNION ALL
  SELECT 'c' || CAST(c_custkey AS STRING), 'n' || CAST(c_nationkey AS STRING) FROM customer
  UNION ALL
  SELECT 'o' || CAST(o_orderkey AS STRING), 'c' || CAST(o_custkey AS STRING) FROM orders
),
reach(node, depth) AS (
  SELECT 'r' || CAST(r_regionkey AS STRING), 0 FROM region
  UNION ALL
  SELECT e.node, r.depth + 1 FROM edges e JOIN reach r ON e.parent = r.node
)
SELECT depth, count(*) AS n_nodes FROM reach GROUP BY depth
"""


@register("sql_recursive_cte", oracle=_RECURSIVE_CTE_SQL)
def q_sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FK-graph reachability from region roots via ANSI WITH RECURSIVE
    (Spark 4 recursive CTE): per-depth node counts of the
    region<-nation<-customer<-orders hierarchy. Declarative form of the
    reference's recursive parent closure (subsetter.py::create_row_in)."""
    cat = Catalog(spark, sf_dir)
    for t in ("region", "nation", "customer", "orders"):
        cat[t].createOrReplaceTempView(t)
    return spark.sql(_RECURSIVE_CTE_SQL)


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis–Spirakis A-ES)
# ---------------------------------------------------------------------------

_AES_SEED = 29
_AES_K = 100


_SQL_SAMPLE_WEIGHTED = f"""
WITH keyed AS (
  SELECT o_orderkey,
         round(o_totalprice, 2) AS weight,
         pow((CAST(('0x' || substr(md5('{_AES_SEED}|' || o_orderkey), 1, 15)) AS BIGINT) + 1.0)
             / (power(16, 15) + 1), 1.0 / o_totalprice) AS k
  FROM orders WHERE o_totalprice > 0)
SELECT o_orderkey, weight, round(k, 9) AS aes_key
FROM keyed
-- order by the ROUNDED key (as Spark does): the 1e-9 tie granularity
-- absorbs cross-engine pow() last-ulp differences at the k-th cutoff
ORDER BY aes_key DESC, o_orderkey
LIMIT {_AES_K}
"""


@register("sample_weighted_topk", oracle=_SQL_SAMPLE_WEIGHTED)
def q_sample_weighted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via Efraimidis–Spirakis
    A-ES: each row draws u ∈ (0,1) and the sample is the top-k rows by
    key u^(1/w) — one pass, no rejection loop, exactly k rows, and
    inclusion probability proportional to weight.  The classic
    distributed answer (per-partition top-k heaps + driver merge via
    TakeOrderedAndProject — the corpus is never globally sorted).

    u is a seeded md5-derived uniform, so the 'random' draw is
    bit-identical in any engine — the same determinism contract as the
    subset sampler (reference ``subsetter.py::_random_row_func`` used
    dialect random(); we make the stream reproducible instead).
    Weights = order totalprice: big orders are proportionally more
    likely to be sampled, the standard revenue-weighted audit draw."""
    cat = Catalog(spark, sf_dir)
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{_AES_SEED}|"), F.col("o_orderkey").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("double")
    u = (h + F.lit(1.0)) / F.lit(float(16**15 + 1))  # (0,1], never 0
    key = F.pow(u, F.lit(1.0) / F.col("o_totalprice"))
    return (
        cat["orders"]
        .where(F.col("o_totalprice") > 0)
        .select(
            "o_orderkey",
            F.round("o_totalprice", 2).alias("weight"),
            F.round(key, 9).alias("aes_key"),
        )
        .orderBy(F.desc("aes_key"), "o_orderkey")
        .limit(_AES_K)
    )


_SQL_INCREMENTAL_DELTA = """
WITH e_o AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 10 = 0),
e_c AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders
        WHERE o_orderkey % 10 = 0 AND o_custkey IS NOT NULL),
e_n AS (SELECT DISTINCT c_nationkey AS n_nationkey FROM customer
        WHERE c_custkey IN (SELECT c_custkey FROM e_c)
          AND c_nationkey IS NOT NULL),
e_r AS (SELECT DISTINCT n_regionkey AS r_regionkey FROM nation
        WHERE n_nationkey IN (SELECT n_nationkey FROM e_n)
          AND n_regionkey IS NOT NULL),
n_o AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 10 = 5),
n_c AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders
        WHERE o_orderkey % 10 = 5 AND o_custkey IS NOT NULL
        EXCEPT SELECT c_custkey FROM e_c),
all_new_c AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders
              WHERE o_orderkey % 10 = 5 AND o_custkey IS NOT NULL),
n_n AS (SELECT DISTINCT c_nationkey AS n_nationkey FROM customer
        WHERE c_custkey IN (SELECT c_custkey FROM all_new_c)
          AND c_nationkey IS NOT NULL
        EXCEPT SELECT n_nationkey FROM e_n),
all_new_n AS (SELECT DISTINCT c_nationkey AS n_nationkey FROM customer
              WHERE c_custkey IN (SELECT c_custkey FROM all_new_c)
                AND c_nationkey IS NOT NULL),
n_r AS (SELECT DISTINCT n_regionkey AS r_regionkey FROM nation
        WHERE n_nationkey IN (SELECT n_nationkey FROM all_new_n)
          AND n_regionkey IS NOT NULL
        EXCEPT SELECT r_regionkey FROM e_r)
SELECT 'customer' AS table_name, count(*) AS n_new FROM n_c
UNION ALL SELECT 'nation', count(*) FROM n_n
UNION ALL SELECT 'orders', count(*) FROM n_o
UNION ALL SELECT 'region', count(*) FROM n_r
"""


# ---------------------------------------------------------------------------
# Incremental subset refresh (CDC shape of the reference's closure)
# ---------------------------------------------------------------------------


@register("subset_incremental_delta", oracle=_SQL_INCREMENTAL_DELTA)
def q_subset_incremental_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental subset refresh: an existing subset (orders with
    o_orderkey % 10 = 0, closed over customer→nation→region) receives a
    new seed batch (o_orderkey % 10 = 5); the engine closes ONLY the new
    seed over the FK graph and anti-joins against the existing key sets
    — the set-at-a-time equivalent of re-running the reference's
    `create_row_in` with `_exists` skipping already-inserted rows.
    Returns per-table delta counts.

    Scale shape: closure work ∝ delta size, never the subset size; the
    anti-joins are key-set vs key-set.  Deterministic modulo predicates
    (no rand) keep it hash-gradeable."""
    cat = Catalog(spark, sf_dir)
    engine = ClosureEngine(cat)
    orders_keys = cat["orders"].select("o_orderkey")
    existing = engine.close_parents(
        {"orders": orders_keys.where(F.col("o_orderkey") % 10 == 0)}
    )
    new_seed = {"orders": orders_keys.where(F.col("o_orderkey") % 10 == 5)}
    delta = engine.incremental_delta(existing, new_seed)
    return count_report(dict(sorted(delta.items())), "table_name", "n_new")


_SQL_TOPK_TIES = """
SELECT l_orderkey, l_linenumber, l_quantity, rk FROM (
  SELECT l_orderkey, l_linenumber, l_quantity,
         rank() OVER (PARTITION BY l_orderkey ORDER BY l_quantity DESC) AS rk
  FROM lineitem)
WHERE rk <= 2
"""


@register("child_topk_with_ties", oracle=_SQL_TOPK_TIES)
def q_child_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-parent top-k WITH TIES (rank() <= k, vs the reference's
    row_number cap, op #10): every lineitem tied at the k-th quantity
    is kept — the deterministic form of a per-parent cap when the sort
    key has duplicates (row_number would pick tie-winners by an
    arbitrary second key).  WindowGroupLimit prunes in rank mode too:
    partial top-k per map task before the shuffle."""
    cat = Catalog(spark, sf_dir)
    w = Window.partitionBy("l_orderkey").orderBy(F.desc("l_quantity"))
    return (
        cat["lineitem"]
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .withColumn("rk", F.rank().over(w))
        .filter(F.col("rk") <= 2)
    )
