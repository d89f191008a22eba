"""TPC-H query shapes (Q1-Q22), adapted to the slimmed testdata schema.

The reference (18F/rdbms-subsetter) implements no analytical queries at
all: its only join is the FK-closure semi-join
(`subsetter.py::create_row_in`) and its only aggregate is COUNT(*)
(`subsetter.py::_find_n_rows`); see SURVEY.md §2A boundary note.  These
entries cover the classic TPC-H *shapes*: pricing summary, multi-way
revenue joins, correlated-min supplier selection, two-sided nation pair
joins, market-share conditional aggregation, disjunctive predicate
pushdown, EXISTS/NOT-EXISTS chains, and scalar-subquery HAVING gates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from rdbms_subsetter_spark.catalog import Catalog
from rdbms_subsetter_spark.queries import register


@register("agg_pricing_summary", oracle="""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02'
GROUP BY l_returnflag, l_linestatus
""")
def q_agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped aggregation (map-side partials + final, one shuffle)."""
    cat = Catalog(spark, sf_dir)
    li = cat["lineitem"].filter(F.col("l_shipdate") <= "2000-09-02")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register("join_revenue_by_nation", oracle="""
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_lineitems
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
""")
def q_join_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-way join + agg: revenue per customer nation (Q5-shaped).
    nation/customer are broadcast by AQE; lineitem⋈orders shuffles once."""
    cat = Catalog(spark, sf_dir)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        cat["lineitem"]
        .join(cat["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cat["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cat["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.round(F.sum(rev), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@register("join_topk_unshipped", oracle="""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-01'
  AND l_shipdate > TIMESTAMP '1998-06-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey LIMIT 10
""")
def q_join_topk_unshipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped composite: selective filters on all three tables
    (pushed to the parquet scans), 3-way join, agg, global top-10.
    The plan to want: filters in PushedFilters, customer broadcast,
    one shuffle for the lineitem⋈orders join, TakeOrdered final."""
    cat = Catalog(spark, sf_dir)
    cutoff = "1998-06-01"
    cust = cat["customer"].filter(F.col("c_mktsegment") == "BUILDING")
    orders = cat["orders"].filter(F.col("o_orderdate") < cutoff)
    li = cat["lineitem"].filter(F.col("l_shipdate") > cutoff)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(rev), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register("sql_exists_subquery", oracle="""
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
GROUP BY o_orderpriority
""")
def q_sql_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS (TPC-H Q4 shape, adapted to the slimmed schema):
    priority counts over 1996 orders having at least one discounted line.

    Catalyst's RewritePredicateSubquery turns the EXISTS into a LEFT
    SEMI join — same physical plan as the FK-closure semi-joins, reached
    from the SQL surface instead of the DataFrame API.
    """
    cat = Catalog(spark, sf_dir)
    for t in ("orders", "lineitem"):
        cat[t].createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS n_orders
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
        GROUP BY o_orderpriority
        """
    )


@register("join_in_having", oracle="""
SELECT c_name, o_orderkey, o_totalprice, o_orderdate,
       round(sum(l_quantity), 2) AS sum_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                     GROUP BY l_orderkey HAVING sum(l_quantity) > 200)
GROUP BY c_name, o_orderkey, o_totalprice, o_orderdate
""")
def q_join_in_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery with HAVING (TPC-H Q18 shape): customers whose orders
    total > 200 quantity units.

    DataFrame form: the HAVING is an aggregate-then-filter, the IN is a
    left_semi join against the filtered key set — the aggregated side is
    tiny after the filter, so AQE broadcasts the semi join.
    """
    cat = Catalog(spark, sf_dir)
    li = cat["lineitem"]
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 200)  # HAVING
        .select("l_orderkey")
    )
    orders = cat["orders"].join(
        big, F.col("o_orderkey") == big["l_orderkey"], "left_semi"
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cat["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_name", "o_orderkey", "o_totalprice", "o_orderdate")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
    )


@register("agg_custdist", oracle="""
SELECT c_count, count(*) AS custdist FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority NOT LIKE '%URGENT%'
  GROUP BY c_custkey)
GROUP BY c_count
""")
def q_agg_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level aggregation (TPC-H Q13): order-count distribution over
    customers, LEFT join with a non-equi LIKE residual in the join
    condition (urgent orders excluded *inside* the join, so customers
    with only urgent orders still count as 0)."""
    cat = Catalog(spark, sf_dir)
    orders = cat["orders"]
    per_cust = (
        cat["customer"]
        .join(
            orders,
            (F.col("c_custkey") == F.col("o_custkey"))
            & ~F.col("o_orderpriority").like("%URGENT%"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


_SQL_MIN_COST_SUPPLIER = """
WITH cost AS (
  SELECT l_partkey AS pk, l_suppkey AS sk,
         min(l_extendedprice / l_quantity) AS unit_cost
  FROM lineitem GROUP BY 1, 2
), eur AS (
  SELECT s_suppkey, s_name, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
), best AS (
  SELECT pk, s_name, n_name, unit_cost,
         min(unit_cost) OVER (PARTITION BY pk) AS mc
  FROM cost JOIN eur ON sk = s_suppkey
)
SELECT p_partkey, p_brand, s_name, n_name,
       CAST(floor(unit_cost * 10000) AS BIGINT) AS unit_cost_e4
FROM best JOIN part ON pk = p_partkey
WHERE unit_cost = mc AND p_size IN (5, 15, 25)
"""


# ---------------------------------------------------------------------------
# Q2 — min-cost supplier (correlated min over a join, decorrelated as window)
# ---------------------------------------------------------------------------

@register("tpch_min_cost_supplier", oracle=_SQL_MIN_COST_SUPPLIER)
def q_tpch_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape: for each part in a size slice, the EUROPE supplier with
    the minimum observed unit price.  The correlated scalar subquery of
    upstream Q2 decorrelates into a partition-window min — one shuffle
    for the (part, supplier) cost aggregate, then one window
    repartition that moves ONLY that reduced aggregate
    (~|parts|·|supps per part| rows), never raw lineitem;
    supplier/nation/region are broadcast."""
    cat = Catalog(spark, sf_dir)
    cost = (
        cat["lineitem"]
        .groupBy(
            F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
        )
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
    )
    eur = (
        cat["supplier"]
        .join(F.broadcast(cat["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(cat["region"].filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "n_name")
    )
    best = (
        cost.join(F.broadcast(eur), F.col("sk") == F.col("s_suppkey"))
        .withColumn("mc", F.min("unit_cost").over(Window.partitionBy("pk")))
        .filter(F.col("unit_cost") == F.col("mc"))
    )
    part = cat["part"].filter(F.col("p_size").isin(5, 15, 25))
    # floor(x*1e4) not round(x, 4): the min unit costs are bit-identical
    # doubles on both engines, and floor of an identical product is
    # engine-stable, whereas round() half-way ties (e.g. 26.24125) break
    # between Spark's HALF_UP and DuckDB's rounding.
    return best.join(F.broadcast(part), F.col("pk") == F.col("p_partkey")).select(
        "p_partkey",
        "p_brand",
        "s_name",
        "n_name",
        F.floor(F.col("unit_cost") * 10000).cast("long").alias("unit_cost_e4"),
    )


_SQL_FORECAST_REVENUE = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


# ---------------------------------------------------------------------------
# Q6 — forecast revenue (pure scan-side pushdown, no join, no group key)
# ---------------------------------------------------------------------------

@register("tpch_forecast_revenue", oracle=_SQL_FORECAST_REVENUE)
def q_tpch_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6: single-table filter + global aggregate.  Every predicate
    (date range, discount band, quantity cap) is parquet-pushable; the
    plan is scan→partial agg→single-row final with no shuffle of data
    rows.  At 100 TB this is the canonical min-max-pruned scan."""
    cat = Catalog(spark, sf_dir)
    li = cat["lineitem"].filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_lines"),
    )


_SQL_VOLUME_SHIPPING = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# Q7 — volume shipping between a nation pair (two nation joins, OR pair)
# ---------------------------------------------------------------------------

@register("tpch_volume_shipping", oracle=_SQL_VOLUME_SHIPPING)
def q_tpch_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7: lineitem joined to BOTH a supplier nation and a customer
    nation with a symmetric pair predicate.  nation is joined twice
    under different aliases (both broadcast); the OR-of-conjunctions
    pair filter runs after both joins.  One shuffle: lineitem⋈orders."""
    cat = Catalog(spark, sf_dir)
    n1 = cat["nation"].select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = cat["nation"].select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    li = cat["lineitem"].filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    return (
        li.join(cat["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cat["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cat["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_SQL_MARKET_SHARE = """
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       round(sum(CASE WHEN n2.n_name = 'NATION_3'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_volume
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Q8 — market share (conditional aggregation ratio per year)
# ---------------------------------------------------------------------------

@register("tpch_market_share", oracle=_SQL_MARKET_SHARE)
def q_tpch_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8: NATION_3's share of AMERICA's ECONOMY-part revenue per order
    year — sum(CASE)/sum(*) conditional-aggregation ratio, the same
    single-shuffle shape as a pivot.  Customer-side region restricts
    the rows; supplier-side nation only labels them."""
    cat = Catalog(spark, sf_dir)
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    america = (
        cat["customer"]
        .join(F.broadcast(cat["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(cat["region"].filter(F.col("r_name") == "AMERICA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("c_custkey")
    )
    supp_nation = (
        cat["supplier"]
        .join(F.broadcast(cat["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    li = (
        cat["lineitem"]
        .join(
            F.broadcast(cat["part"].filter(F.col("p_type") == "ECONOMY")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            cat["orders"].filter(
                (F.col("o_orderdate") >= "1996-01-01")
                & (F.col("o_orderdate") < "1998-01-01")
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(america, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .join(F.broadcast(supp_nation), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    target = F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(F.lit(0.0))
    return (
        li.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(F.sum(target) / F.sum(vol), 6).alias("mkt_share"),
            F.round(F.sum(vol), 2).alias("total_volume"),
        )
    )


_SQL_PRODUCT_PROFIT = """
SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
       round(sum(l_extendedprice * (1 - l_discount)
                 - 0.1 * p_retailprice * l_quantity), 2) AS sum_profit,
       count(*) AS n_lines
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Q9 — product-type profit (LIKE filter + 5-way join, per nation-year)
# ---------------------------------------------------------------------------

@register("tpch_product_profit", oracle=_SQL_PRODUCT_PROFIT)
def q_tpch_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9: profit on 'red' parts by supplier nation and order year.
    ``ps_supplycost`` is absent, so cost is modeled as 10% of retail
    price × quantity — same expression tree complexity, same join
    graph.  The LIKE filter on part prunes before the broadcast join."""
    cat = Catalog(spark, sf_dir)
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(0.1) * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        cat["lineitem"]
        .join(
            F.broadcast(cat["part"].filter(F.col("p_name").like("%red%"))),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(F.broadcast(cat["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(cat["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(cat["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(
            F.round(F.sum(amount), 2).alias("sum_profit"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_SQL_RETURNED_ITEMS = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-10-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY 1, 2, 3, 4
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# ---------------------------------------------------------------------------
# Q10 — returned-item reporting (join + agg + deterministic top 20)
# ---------------------------------------------------------------------------

@register("tpch_returned_items", oracle=_SQL_RETURNED_ITEMS)
def q_tpch_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10: top-20 customers by revenue lost to returns in one quarter.
    Global top-k over the aggregate (TakeOrdered — no full sort); the
    order key is the ROUNDED revenue with c_custkey tiebreak so both
    engines cut rank 20 at the same row."""
    cat = Catalog(spark, sf_dir)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        cat["lineitem"]
        .filter(F.col("l_returnflag") == "R")
        .join(
            cat["orders"].filter(
                (F.col("o_orderdate") >= "1996-10-01")
                & (F.col("o_orderdate") < "1997-01-01")
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(cat["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cat["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum(rev), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


_SQL_IMPORTANT_PARTS = """
SELECT p_type, round(sum(p_retailprice * l_quantity), 2) AS inventory_value
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_type
HAVING round(sum(p_retailprice * l_quantity), 2) >
       (SELECT round(0.05 * sum(p_retailprice * l_quantity), 2)
        FROM lineitem JOIN part ON l_partkey = p_partkey)
"""


# ---------------------------------------------------------------------------
# Q11 — important parts (HAVING vs global scalar subquery)
# ---------------------------------------------------------------------------

@register("tpch_important_parts", oracle=_SQL_IMPORTANT_PARTS)
def q_tpch_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape: part types whose shipped inventory value exceeds 5% of
    the global total.  The scalar subquery is computed once and
    broadcast as a 1-row cross join — the threshold comparison happens
    after both aggregations, so the big scan runs exactly once per
    side (Spark reuses the shuffle for the two aggs of the same
    child under AQE).

    Both sides of the 5% threshold are rounded to cents before the
    comparison (in the oracle too): float sums are accumulation-order-
    dependent, and comparing raw doubles would let a p_type within float
    noise of the threshold be included by one engine and excluded by the
    other, flipping the hash gate."""
    cat = Catalog(spark, sf_dir)
    value = F.col("p_retailprice") * F.col("l_quantity")
    joined = cat["lineitem"].join(
        F.broadcast(cat["part"]), F.col("l_partkey") == F.col("p_partkey")
    )
    per_type = joined.groupBy("p_type").agg(F.sum(value).alias("val"))
    total = joined.agg(F.sum(value).alias("total"))
    return (
        per_type.crossJoin(F.broadcast(total))
        .filter(F.round(F.col("val"), 2) > F.round(F.lit(0.05) * F.col("total"), 2))
        .select("p_type", F.round("val", 2).alias("inventory_value"))
    )


_SQL_PRIORITY_CLASS = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
         AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)
         AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# Q12 — priority by return class (conditional counts after a join)
# ---------------------------------------------------------------------------

@register("tpch_priority_class", oracle=_SQL_PRIORITY_CLASS)
def q_tpch_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape (l_shipmode → l_returnflag): per return class, how many
    1997-shipped lines belong to high- vs low-priority orders.  The
    CASE counts fold into one shuffle; the date filter pushes to the
    lineitem scan."""
    cat = Catalog(spark, sf_dir)
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long")
    return (
        cat["lineitem"]
        .filter(
            (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
        )
        .join(cat["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(high).alias("high_line_count"),
            F.sum(F.lit(1) - high).alias("low_line_count"),
        )
    )


_SQL_PROMO_REVENUE = """
SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01' AND l_shipdate < TIMESTAMP '1997-10-01'
"""


# ---------------------------------------------------------------------------
# Q14 — promo revenue share (single-row conditional ratio)
# ---------------------------------------------------------------------------

@register("tpch_promo_revenue", oracle=_SQL_PROMO_REVENUE)
def q_tpch_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14: PROMO parts' share of one ship-month's revenue.  Broadcast
    part join + one partial-agg reduction to a single row."""
    cat = Catalog(spark, sf_dir)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        cat["lineitem"]
        .filter(
            (F.col("l_shipdate") >= "1997-09-01") & (F.col("l_shipdate") < "1997-10-01")
        )
        .join(F.broadcast(cat["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(F.lit(100.0) * F.sum(promo) / F.sum(rev), 4).alias(
                "promo_revenue_pct"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_SQL_TOP_SUPPLIER = """
WITH revenue AS (
  SELECT l_suppkey,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


# ---------------------------------------------------------------------------
# Q15 — top supplier (agg reused against its own max, scalar equality)
# ---------------------------------------------------------------------------

@register("tpch_top_supplier", oracle=_SQL_TOP_SUPPLIER)
def q_tpch_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15: supplier(s) with the maximum quarterly revenue.  The revenue
    view is aggregated once, rounded (so the equality against max is on
    engine-stable values), and compared to its own broadcast max —
    upstream's CREATE VIEW + scalar subquery, decorrelated."""
    cat = Catalog(spark, sf_dir)
    rev = (
        cat["lineitem"]
        .filter(
            (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
        )
        .groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(cat["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


_SQL_PARTS_SUPPLIER_COUNTS = """
SELECT p_brand, p_type, p_size, count(DISTINCT sk) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem) pairs
JOIN part ON pk = p_partkey
WHERE p_brand <> 'Brand#5' AND p_size IN (3, 7, 14, 23, 36, 45)
  AND sk NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# Q16 — supplier counts per part group (NOT IN + count distinct)
# ---------------------------------------------------------------------------

@register("tpch_parts_supplier_counts", oracle=_SQL_PARTS_SUPPLIER_COUNTS)
def q_tpch_parts_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16: distinct supplier counts per (brand, type, size) over the
    observed part↔supplier pairs, excluding negative-balance suppliers
    via NOT IN (anti join — the subquery is non-nullable, so no
    null-aware plan needed).  The pair set is deduped before the join
    to keep the countDistinct input minimal."""
    cat = Catalog(spark, sf_dir)
    pairs = (
        cat["lineitem"]
        .select(F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk"))
        .distinct()
    )
    bad = cat["supplier"].filter(F.col("s_acctbal") < 0).select("s_suppkey")
    part = cat["part"].filter(
        (F.col("p_brand") != "Brand#5") & F.col("p_size").isin(3, 7, 14, 23, 36, 45)
    )
    return (
        pairs.join(F.broadcast(bad), F.col("sk") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(part), F.col("pk") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("sk").alias("supplier_cnt"))
    )


_SQL_DISJUNCTIVE_FILTER = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#7' AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 30 AND l_quantity BETWEEN 20 AND 30)
"""


# ---------------------------------------------------------------------------
# Q19 — disjunctive predicate pushdown (OR of conjunction groups)
# ---------------------------------------------------------------------------

@register("tpch_disjunctive_filter", oracle=_SQL_DISJUNCTIVE_FILTER)
def q_tpch_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19: revenue over an OR of three (brand, size, quantity-band)
    conjunction groups.  Catalyst splits the disjunction: the part-only
    and lineitem-only conjuncts are pushed below the join (each scan
    prunes), the mixed residue evaluates after.  One broadcast join,
    single-row output."""
    cat = Catalog(spark, sf_dir)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    cond = (
        (
            (F.col("p_brand") == "Brand#3")
            & (F.col("p_size").between(1, 10))
            & (F.col("l_quantity").between(1, 11))
        )
        | (
            (F.col("p_brand") == "Brand#7")
            & (F.col("p_size").between(1, 20))
            & (F.col("l_quantity").between(10, 20))
        )
        | (
            (F.col("p_brand") == "Brand#12")
            & (F.col("p_size").between(1, 30))
            & (F.col("l_quantity").between(20, 30))
        )
    )
    return (
        cat["lineitem"]
        .join(F.broadcast(cat["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(
            F.round(F.sum(rev), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_SQL_WAITING_SUPPLIERS = """
WITH li AS (
  SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
)
SELECT s_name, count(*) AS numwait
FROM (
  SELECT l_orderkey, l_suppkey, max(l_shipdate) AS supp_max_ship,
         max(o_orderdate) AS o_orderdate
  FROM li GROUP BY 1, 2
) l1
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE supp_max_ship > o_orderdate + INTERVAL 30 DAY
  AND EXISTS (SELECT 1 FROM li l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM li l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > l1.supp_max_ship)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 10
"""


# ---------------------------------------------------------------------------
# Q21 — suppliers who kept orders waiting (EXISTS + NOT EXISTS chain)
# ---------------------------------------------------------------------------

@register("tpch_waiting_suppliers", oracle=_SQL_WAITING_SUPPLIERS)
def q_tpch_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape: per supplier, count finalized multi-supplier orders
    where this supplier shipped last (>30 days after order date), i.e.
    EXISTS(another supplier's line) AND NOT EXISTS(another supplier's
    line shipped later).  Both correlated subqueries decorrelate into
    one window pass over the per-(order,supplier) aggregate:
    "no OTHER supplier shipped strictly later" ⇔ "this supplier's max
    shipdate equals the order's max" (if another group held a later
    date, the order max would exceed ours; ties pass both forms), so
    no self-join and no runner-up bookkeeping — count + max windows on
    the same l_orderkey partitioning, one wide shuffle of the reduced
    aggregate.  Deterministic top 10 by (numwait desc, s_name)."""
    cat = Catalog(spark, sf_dir)
    li = (
        cat["lineitem"]
        .join(
            cat["orders"].filter(F.col("o_orderstatus") == "F"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select("l_orderkey", "l_suppkey", "l_shipdate", "o_orderdate")
    )
    w = Window.partitionBy("l_orderkey")
    per_supp = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("supp_max_ship"),
        F.max("o_orderdate").alias("o_orderdate"),
    )
    waiting = (
        per_supp.withColumn("n_supp", F.count(F.lit(1)).over(w))
        .withColumn("max_all", F.max("supp_max_ship").over(w))
        .filter(
            (F.col("n_supp") > 1)
            & (F.col("supp_max_ship") > F.expr("o_orderdate + INTERVAL 30 DAYS"))
            & (F.col("supp_max_ship") == F.col("max_all"))
        )
    )
    return (
        waiting.join(
            F.broadcast(cat["supplier"]), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(10)
    )


_SQL_IDLE_CUSTOMERS = """
SELECT right(c_name, 1) AS bucket, count(*) AS numcust,
       round(sum(c_acctbal), 2) AS totacctbal
FROM customer
WHERE right(c_name, 1) IN ('1', '3', '5', '7', '9')
  AND c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Q22 — idle customers (scalar-avg gate + anti join, bucketed report)
# ---------------------------------------------------------------------------

@register("tpch_idle_customers", oracle=_SQL_IDLE_CUSTOMERS)
def q_tpch_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22: above-average-balance customers with no orders, bucketed by
    the trailing digit of c_name (phone country code stand-in).  The
    global average is a broadcast scalar; the NOT EXISTS is a left_anti
    join on o_custkey."""
    cat = Catalog(spark, sf_dir)
    bucket = F.expr("right(c_name, 1)").alias("bucket")
    avg_bal = (
        cat["customer"]
        .filter(F.col("c_acctbal") > 0)
        .agg(F.avg("c_acctbal").alias("avg_bal"))
    )
    return (
        cat["customer"]
        .filter(F.expr("right(c_name, 1)").isin("1", "3", "5", "7", "9"))
        .crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            cat["orders"].select("o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy(bucket)
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


_SQL_DOMINANT_SUPPLIER = """
WITH li97 AS (
  SELECT l_partkey, l_suppkey, sum(l_quantity) AS supp_qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY 1, 2
)
SELECT s_suppkey, s_name, n_name
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (
  SELECT l_suppkey FROM li97 a
  WHERE supp_qty > 0.5 * (SELECT sum(supp_qty) FROM li97 b
                          WHERE b.l_partkey = a.l_partkey)
)
"""


# ---------------------------------------------------------------------------
# Q20 — dominant suppliers (correlated aggregate inside IN)
# ---------------------------------------------------------------------------

@register("tpch_dominant_supplier", oracle=_SQL_DOMINANT_SUPPLIER)
def q_tpch_dominant_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape: suppliers who shipped more than half of some part's
    1997 volume (the ``availqty > 0.5 * sum(...)`` correlated aggregate,
    recast on observed shipments).  Decorrelated the standard way: both
    aggregates come from ONE scan of the filtered lineitem — the
    per-(part,supplier) rollup re-aggregates to the per-part total, so
    the fact table is read once and the comparison is a join of two
    reduced relations co-partitioned on l_partkey.  The supplier list is
    a left_semi join (the IN)."""
    cat = Catalog(spark, sf_dir)
    li97 = (
        cat["lineitem"]
        .filter(
            (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("supp_qty"))
    )
    per_part = li97.groupBy("l_partkey").agg(F.sum("supp_qty").alias("part_qty"))
    dominant = (
        li97.join(per_part, "l_partkey")
        .filter(F.col("supp_qty") > F.lit(0.5) * F.col("part_qty"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        cat["supplier"]
        .join(dominant, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(cat["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
    )
