"""The SQL and DataFrame surface: aggregation (ROLLUP/CUBE/GROUPING
SETS, pivot/unpivot, sketches, statistics, regression), joins (outer,
range, salted, bucketed, hinted, runtime bloom), windows, set
operations, subqueries, scalar/date/string/map/array/JSON/VARIANT
functions, Spark 4 SQL features (parameters, IDENTIFIER, session
variables, pipe syntax, collations, lateral aliases), Python and Arrow
UDFs and UDTFs, and data-quality reports.
"""

from __future__ import annotations

import math as _math
import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from rdbms_subsetter_spark import partitioning
from rdbms_subsetter_spark.catalog import Catalog
from rdbms_subsetter_spark.operators import joins
from rdbms_subsetter_spark.queries import register
from rdbms_subsetter_spark.queries.text import _TOKS


@register("window_rank_running", oracle="""
SELECT o_orderkey, o_custkey,
       row_number() OVER w AS rnk,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_totalprice DESC, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
""")
def q_window_rank_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windows: per-customer order rank + running spend."""
    cat = Catalog(spark, sf_dir)
    w_rank = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    w_run = (
        Window.partitionBy("o_custkey")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return cat["orders"].select(
        "o_orderkey",
        "o_custkey",
        F.row_number().over(w_rank).alias("rnk"),
        F.round(F.sum("o_totalprice").over(w_run), 2).alias("running_spend"),
    )


@register("set_ops", oracle="""
WITH building AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
with_orders AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders)
SELECT 'intersect' AS op, c_custkey FROM (SELECT * FROM building INTERSECT SELECT * FROM with_orders)
UNION ALL
SELECT 'except', c_custkey FROM (SELECT * FROM building EXCEPT SELECT * FROM with_orders)
UNION ALL
SELECT 'union', c_custkey FROM (SELECT * FROM building UNION SELECT * FROM with_orders)
""")
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION over customer key sets."""
    cat = Catalog(spark, sf_dir)
    building = cat["customer"].filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    with_orders = cat["orders"].select(F.col("o_custkey").alias("c_custkey")).distinct()
    tag = lambda df, t: df.select(F.lit(t).alias("op"), "c_custkey")  # noqa: E731
    return (
        tag(building.intersect(with_orders), "intersect")
        .unionByName(tag(building.exceptAll(with_orders).distinct(), "except"))
        .unionByName(tag(building.union(with_orders).distinct(), "union"))
    )


@register("scalar_functions", oracle="""
SELECT p_partkey,
       upper(p_name) AS name_upper,
       length(p_name) AS name_len,
       substr(p_type, 1, 3) AS type_prefix,
       concat_ws('|', p_brand, p_type) AS brand_type,
       p_size % 5 AS size_mod5,
       round(sqrt(p_retailprice), 6) AS price_sqrt,
       round(ln(p_retailprice + 1.0), 6) AS price_ln,
       CAST(ceil(p_retailprice) AS BIGINT) AS price_ceil,
       CAST(floor(p_retailprice) AS BIGINT) AS price_floor
FROM part
""")
def q_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/math scalar surface on part (all codegen, no UDFs)."""
    cat = Catalog(spark, sf_dir)
    return cat["part"].select(
        "p_partkey",
        F.upper(F.col("p_name")).alias("name_upper"),
        F.length(F.col("p_name")).alias("name_len"),
        F.substring(F.col("p_type"), 1, 3).alias("type_prefix"),
        F.concat_ws("|", F.col("p_brand"), F.col("p_type")).alias("brand_type"),
        (F.col("p_size") % 5).alias("size_mod5"),
        F.round(F.sqrt(F.col("p_retailprice")), 6).alias("price_sqrt"),
        F.round(F.log(F.col("p_retailprice") + 1.0), 6).alias("price_ln"),
        F.ceil(F.col("p_retailprice")).alias("price_ceil"),
        F.floor(F.col("p_retailprice")).alias("price_floor"),
    )


@register("date_functions", oracle="""
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INT) AS yr,
       CAST(quarter(o_orderdate) AS INT) AS qtr,
       CAST(month(o_orderdate) AS INT) AS mo,
       CAST(day(o_orderdate) AS INT) AS dom,
       CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
       last_day(CAST(o_orderdate AS DATE)) AS month_end,
       CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since_epoch0
FROM orders
""")
def q_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar surface on orders."""
    cat = Catalog(spark, sf_dir)
    d = F.col("o_orderdate")
    return cat["orders"].select(
        "o_orderkey",
        F.year(d).alias("yr"),
        F.quarter(d).alias("qtr"),
        F.month(d).alias("mo"),
        F.dayofmonth(d).alias("dom"),
        F.date_trunc("month", d).alias("month_start"),
        F.last_day(d).alias("month_end"),
        F.datediff(d, F.lit("1995-01-01")).alias("days_since_epoch0"),
    )


@register("json_extract_events", oracle="""
SELECT event_type,
       count(*) AS n,
       CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
       min(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
       max(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
FROM events GROUP BY event_type
""")
def q_json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from events.props + aggregate per event type.

    ``try_cast``: props is untrusted JSON — a non-numeric k would throw
    CAST_INVALID_INPUT under ANSI mode; NULL (matching the oracle's
    TRY_CAST) is the ETL-correct behavior."""
    cat = Catalog(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").try_cast("int")
    return (
        cat["events"]
        .select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("k").cast("long")).alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


# price bands for the range join: p_retailprice spans [900, 1000)
PRICE_BANDS = [(float(lo), float(lo + 10)) for lo in range(900, 1000, 10)]


def _bands_values() -> str:
    return ", ".join(f"({lo}, {hi})" for lo, hi in PRICE_BANDS)


@register("range_join_price_bands", oracle=f"""
WITH bands(lo, hi) AS (VALUES {_bands_values()})
SELECT CAST(lo AS DOUBLE) AS band_lo,
       count(*) AS n_parts,
       round(avg(p_retailprice), 4) AS avg_price,
       round(sum(p_retailprice), 2) AS sum_price
FROM part JOIN bands ON p_retailprice >= lo AND p_retailprice < hi
GROUP BY lo
""")
def q_range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band (range) join: parts bucketed into $10 retail-price bands via
    a broadcast non-equi join, then aggregated per band."""
    cat = Catalog(spark, sf_dir)
    banded = joins.band_join(cat["part"], "p_retailprice", PRICE_BANDS)
    return banded.groupBy("band_lo").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.round(F.avg("p_retailprice"), 4).alias("avg_price"),
        F.round(F.sum("p_retailprice"), 2).alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# aggregation: rollup / distinct / percentiles; global top-k
# ---------------------------------------------------------------------------


@register("agg_rollup", oracle="""
SELECT c_mktsegment, c_nationkey,
       count(*) AS n_cust,
       round(sum(c_acctbal), 2) AS sum_bal,
       CAST(grouping(c_mktsegment, c_nationkey) AS INT) AS gid
FROM customer GROUP BY ROLLUP (c_mktsegment, c_nationkey)
""")
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level aggregation: ROLLUP(segment, nation) with grouping id
    (CUBE/GROUPING SETS are the same Expand operator underneath)."""
    cat = Catalog(spark, sf_dir)
    return (
        cat["customer"]
        .rollup("c_mktsegment", "c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_bal"),
            F.grouping_id().cast("int").alias("gid"),
        )
    )


@register("agg_cube", oracle="""
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS sum_price,
       CAST(grouping(o_orderstatus, o_orderpriority) AS INT) AS gid
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
""")
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all four grouping combinations."""
    cat = Catalog(spark, sf_dir)
    return (
        cat["orders"]
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
            F.grouping_id().cast("int").alias("gid"),
        )
    )


@register("map_functions", oracle="""
SELECT event_id,
       CAST(len(json_keys(props)) AS INT) AS n_keys,
       array_to_string(list_sort(CAST(json_keys(props) AS VARCHAR[])), ',') AS keys_csv,
       TRY_CAST(json_extract_string(props, '$.k') AS INT) AS k_val
FROM events
""")
def q_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column surface: parse events.props JSON into
    map<string,string>, then map_keys / element_at / size.

    The key list is serialized to a CSV string at the query boundary:
    the driver's pandas canonicalizer sorts on every output column and
    list-valued cells are unhashable there (r01 grading failure).

    ``try_cast`` (not ``.cast``): props is untrusted JSON, and under
    Spark 4's default ANSI mode a non-numeric ``k`` value would throw
    CAST_INVALID_INPUT mid-scan; try_cast yields NULL — matching the
    oracle, which uses DuckDB TRY_CAST.  Identical wherever k is
    numeric (the fixed datasets)."""
    cat = Catalog(spark, sf_dir)
    m = F.from_json(F.col("props"), "map<string,string>")
    return cat["events"].select(
        "event_id",
        F.size(m).alias("n_keys"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys_csv"),
        F.element_at(m, "k").try_cast("int").alias("k_val"),
    )


@register("agg_distinct_percentile", oracle="""
SELECT l_returnflag,
       count(DISTINCT l_suppkey) AS n_supp,
       count(DISTINCT l_partkey) AS n_part,
       round(sum(DISTINCT l_quantity), 2) AS sum_qty_distinct,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
       round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price
FROM lineitem GROUP BY l_returnflag
""")
def q_agg_distinct_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregates + exact interpolated percentiles per flag.

    Deliberately TWO aggregations joined on the tiny group key instead
    of one: mixing percentile() into the distinct-agg Expand makes Spark
    keep a percentile buffer per expanded (flag, distinct-value) row
    (measured 2.4M buffers at sf0.1, ~6 s); split, the distinct branch
    stays in codegen HashAggregate and percentile buffers exist only per
    flag (3 groups).  The join is a broadcast of a 3-row side.
    """
    cat = Catalog(spark, sf_dir)
    li = cat["lineitem"]
    distincts = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
        F.round(F.sum_distinct(F.col("l_quantity")), 2).alias("sum_qty_distinct"),
    )
    pcts = li.groupBy("l_returnflag").agg(
        F.round(F.percentile(F.col("l_extendedprice"), F.lit(0.5)), 4).alias("median_price"),
        F.round(F.percentile(F.col("l_extendedprice"), F.lit(0.9)), 4).alias("p90_price"),
    )
    return distincts.join(F.broadcast(pcts), on="l_returnflag")


@register("agg_approx_sketches")
def q_agg_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates (HLL++ distinct, KLL-style quantiles): the
    approximate counterparts of agg_distinct_percentile for when exact
    distinct/percentile state is too large at 100 TB.  Approximation is
    engine-specific → rows-only check; accuracy vs exact is asserted in
    tests/test_operators.py."""
    cat = Catalog(spark, sf_dir)
    li = cat["lineitem"]
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_suppkey", rsd=0.02).alias("approx_n_supp"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_n_part"),
        F.percentile_approx("l_extendedprice", 0.5, 10_000).alias("approx_median_price"),
        F.percentile_approx("l_extendedprice", 0.9, 10_000).alias("approx_p90_price"),
    )


@register("top_orders_global", oracle="""
SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
""")
def q_top_orders_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k (TakeOrdered: per-partition top-k, then a single
    driver-side merge of k-sized heads — never a full sort)."""
    cat = Catalog(spark, sf_dir)
    return (
        cat["orders"]
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    )


# ---------------------------------------------------------------------------
# windows: lag / lead / ntile / percent_rank / range frame
# ---------------------------------------------------------------------------


@register("window_lag_lead_ntile", oracle="""
SELECT o_orderkey, o_custkey,
       round(lag(o_totalprice) OVER w, 2) AS prev_price,
       round(lead(o_totalprice) OVER w, 2) AS next_price,
       CAST(ntile(4) OVER w AS INT) AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
             RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW), 2) AS spend_within_1000
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""")
def q_window_lag_lead_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_range = (
        Window.partitionBy("o_custkey")
        .orderBy("o_totalprice")
        .rangeBetween(-1000, Window.currentRow)
    )
    return cat["orders"].select(
        "o_orderkey",
        "o_custkey",
        F.round(F.lag("o_totalprice").over(w), 2).alias("prev_price"),
        F.round(F.lead("o_totalprice").over(w), 2).alias("next_price"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.round(F.sum("o_totalprice").over(w_range), 2).alias("spend_within_1000"),
    )


@register("join_outer_full", oracle="""
SELECT c_custkey, c_name,
       coalesce(s.spend, 0.0) AS spend,
       s.spend IS NULL AS never_ordered
FROM customer
FULL OUTER JOIN (SELECT o_custkey, round(sum(o_totalprice), 2) AS spend
                 FROM orders GROUP BY o_custkey) s
  ON c_custkey = s.o_custkey
""")
def q_join_outer_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer join: customer spend per nation including nations with
    no customers AND orphan customers (none in consistent data — the
    shape is what's graded)."""
    cat = Catalog(spark, sf_dir)
    spend = (
        cat["orders"]
        .groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("spend"))
    )
    return (
        cat["customer"]
        .join(spend, F.col("c_custkey") == F.col("o_custkey"), "full_outer")
        .select(
            "c_custkey",
            "c_name",
            F.coalesce(F.col("spend"), F.lit(0.0)).alias("spend"),
            F.col("spend").isNull().alias("never_ordered"),
        )
    )


@register("string_functions", oracle=r"""
SELECT p_partkey,
       CAST(levenshtein(p_name, p_brand) AS INT) AS lev_to_brand,
       regexp_extract(p_name, '^(\w+)', 1) AS first_word,
       replace(p_brand, '#', '_') AS brand_clean,
       lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS key_padded,
       reverse(p_type) AS type_rev
FROM part
""")
def q_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String surface: levenshtein / regexp_extract / translate / pads."""
    cat = Catalog(spark, sf_dir)
    name = F.col("p_name")
    return cat["part"].select(
        "p_partkey",
        F.levenshtein(name, F.col("p_brand")).alias("lev_to_brand"),
        F.regexp_extract(name, r"^(\w+)", 1).alias("first_word"),
        F.translate(F.col("p_brand"), "#", "_").alias("brand_clean"),
        F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias("key_padded"),
        F.reverse(F.col("p_type")).alias("type_rev"),
    )


@register("sql_api", oracle="""
SELECT c_mktsegment,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_spend
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderstatus = 'F'
GROUP BY c_mktsegment
""")
def q_sql_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spark.sql() entry path: identical ANSI SQL runs on both
    engines (temp views registered from the catalog)."""
    cat = Catalog(spark, sf_dir)
    for t in ("orders", "customer"):
        cat[t].createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT c_mktsegment,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_spend
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE o_orderstatus = 'F'
        GROUP BY c_mktsegment
        """
    )


@register("agg_pivot", oracle="""
SELECT l_returnflag,
       round(sum(CASE WHEN l_linestatus = 'F' THEN l_extendedprice * (1 - l_discount) END), 2) AS rev_f,
       round(sum(CASE WHEN l_linestatus = 'O' THEN l_extendedprice * (1 - l_discount) END), 2) AS rev_o
FROM lineitem GROUP BY l_returnflag
""")
def q_agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: revenue by returnflag × linestatus as columns."""
    cat = Catalog(spark, sf_dir)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    piv = (
        cat["lineitem"]
        .withColumn("rev", rev)
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.round(F.sum("rev"), 2))
    )
    return piv.select(
        "l_returnflag",
        F.col("F").alias("rev_f"),
        F.col("O").alias("rev_o"),
    )


@register("array_functions", oracle="""
SELECT vec_id,
       CAST(len(embedding) AS INT) AS dim,
       round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))), 6) AS l2_norm,
       round(CAST(list_min(embedding) AS DOUBLE), 6) AS min_val,
       round(CAST(list_max(embedding) AS DOUBLE), 6) AS max_val,
       round(list_sum(CAST(embedding AS DOUBLE[])) / len(embedding), 6) AS mean_val
FROM embeddings
""")
def q_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function surface over embeddings (transform / aggregate /
    min / max / slice — all codegen, no UDF)."""
    from rdbms_subsetter_spark.operators.similarity import dot

    cat = Catalog(spark, sf_dir)
    e = F.col("embedding")
    return cat["embeddings"].select(
        "vec_id",
        F.size(e).alias("dim"),
        F.round(F.sqrt(dot(e, e)), 6).alias("l2_norm"),
        F.round(F.array_min(e).cast("double"), 6).alias("min_val"),
        F.round(F.array_max(e).cast("double"), 6).alias("max_val"),
        F.round(
            F.aggregate(e, F.lit(0.0), lambda a, x: a + x.cast("double")) / F.size(e), 6
        ).alias("mean_val"),
    )


@register("udf_grouped_zscore", oracle="""
SELECT event_id, event_type,
       round((value - avg(value) OVER w) / stddev_pop(value) OVER w, 6) AS zscore
FROM events
WINDOW w AS (PARTITION BY event_type)
""")
def q_udf_grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped applyInPandas (Arrow-batched) z-score per event type."""
    from rdbms_subsetter_spark.functions import grouped_zscore

    cat = Catalog(spark, sf_dir)
    ev = cat["events"].select("event_id", "event_type", "value")
    return grouped_zscore(ev, "event_type", "value").select(
        "event_id", "event_type", F.round(F.col("zscore"), 6).alias("zscore")
    )


@register("sql_scalar_subquery", oracle="""
SELECT c_custkey, c_mktsegment,
       round(c_acctbal - (SELECT avg(c_acctbal) FROM customer), 2) AS above_avg
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
""")
def q_sql_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: customers above the global average balance, with
    their distance from it.  Catalyst plans the subquery once (a
    one-row broadcast), not per-row."""
    cat = Catalog(spark, sf_dir)
    cat["customer"].createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT c_custkey, c_mktsegment,
               round(c_acctbal - (SELECT avg(c_acctbal) FROM customer), 2)
                 AS above_avg
        FROM customer
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
        """
    )


@register("window_time_range", oracle="""
SELECT event_id, user_id, ts,
       count(*) OVER w AS n_trailing_1h,
       round(sum(value) OVER w, 2) AS sum_trailing_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
""")
def q_window_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE BETWEEN INTERVAL window: per user, events and value-sum in
    the trailing hour — the time-based sliding frame (vs the row frame
    in window_lag_lead_ntile)."""
    cat = Catalog(spark, sf_dir)
    cat["events"].createOrReplaceTempView("events")
    return spark.sql(
        """
        SELECT event_id, user_id, ts,
               count(*) OVER w AS n_trailing_1h,
               round(sum(value) OVER w, 2) AS sum_trailing_1h
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        """
    )


@register("agg_stats_moments", oracle="""
SELECT l_returnflag,
       round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qp,
       round(stddev_samp(l_extendedprice), 4) AS sd_price,
       round(var_pop(l_quantity), 6) AS var_qty,
       bool_and(l_discount < 0.5) AS all_mild_discount,
       bool_or(l_tax > 0.07) AS any_high_tax
FROM lineitem GROUP BY l_returnflag
""")
def q_agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate surface: correlation, covariance, stddev,
    variance, and boolean aggregates per returnflag."""
    cat = Catalog(spark, sf_dir)
    li = cat["lineitem"]
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("covar_qp"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
        F.round(F.var_pop("l_quantity"), 6).alias("var_qty"),
        F.bool_and(F.col("l_discount") < 0.5).alias("all_mild_discount"),
        F.bool_or(F.col("l_tax") > 0.07).alias("any_high_tax"),
    )


@register("agg_collect_set", oracle="""
SELECT c_nationkey,
       array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segments,
       count(*) AS n_cust
FROM customer GROUP BY c_nationkey
""")
def q_agg_collect_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-building aggregation: per nation, the sorted distinct set
    of customer market segments (collect_set made deterministic by
    array_sort) and the customer count.  Serialized to CSV at the query
    boundary (driver canonicalizer cannot hash list cells)."""
    cat = Catalog(spark, sf_dir)
    return (
        cat["customer"]
        .groupBy("c_nationkey")
        .agg(
            F.array_join(F.array_sort(F.collect_set("c_mktsegment")), ",").alias(
                "segments"
            ),
            F.count(F.lit(1)).alias("n_cust"),
        )
    )


@register("agg_unpivot", oracle="""
SELECT p_partkey, 'p_size' AS metric, round(CAST(p_size AS DOUBLE), 2) AS val
FROM part
UNION ALL
SELECT p_partkey, 'p_retailprice', round(p_retailprice, 2) FROM part
""")
def q_agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unpivot/melt (the inverse of pivot): wide part metrics to long
    (p_partkey, metric, val) — an Expand ×2 inside the scan stage, no
    shuffle."""
    cat = Catalog(spark, sf_dir)
    wide = cat["part"].select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice").alias("p_retailprice"),
    )
    return wide.unpivot(
        ids=["p_partkey"],
        values=["p_size", "p_retailprice"],
        variableColumnName="metric",
        valueColumnName="val",
    ).withColumn("val", F.round("val", 2))


@register("sql_not_in_null_aware", oracle="""
SELECT c_custkey, c_nationkey FROM customer
WHERE c_nationkey NOT IN (SELECT nullif(n_nationkey, -1)
                          FROM nation WHERE n_regionkey = 1)
""")
def q_sql_not_in_null_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN over a NULLABLE subquery — three-valued logic makes this a
    distinct physical operator (null-aware anti join: BHJ LeftAnti with
    the isNullAware flag, checked in tests/test_scale_plans.py).  The
    nullif() never fires at runtime, but its nullable TYPE forces the
    null-aware plan."""
    cat = Catalog(spark, sf_dir)
    for t in ("customer", "nation"):
        cat[t].createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT c_custkey, c_nationkey FROM customer
        WHERE c_nationkey NOT IN (SELECT nullif(n_nationkey, -1)
                                  FROM nation WHERE n_regionkey = 1)
        """
    )


@register("set_ops_all", oracle="""
SELECT op, l_suppkey, count(*) AS multiplicity FROM (
  SELECT 'intersect_all' AS op, l_suppkey FROM (
    SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'
    INTERSECT ALL
    SELECT l_suppkey FROM lineitem WHERE l_linestatus = 'F')
  UNION ALL
  SELECT 'except_all' AS op, l_suppkey FROM (
    SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'
    EXCEPT ALL
    SELECT l_suppkey FROM lineitem WHERE l_linestatus = 'F'))
GROUP BY op, l_suppkey
""")
def q_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set ops (multiplicity-preserving): INTERSECT ALL /
    EXCEPT ALL of the suppkey multisets of two lineitem slices."""
    cat = Catalog(spark, sf_dir)
    li = cat["lineitem"]
    a = li.filter(F.col("l_returnflag") == "R").select("l_suppkey")
    b = li.filter(F.col("l_linestatus") == "F").select("l_suppkey")
    tag = lambda df, t: df.select(F.lit(t).alias("op"), "l_suppkey")  # noqa: E731
    both = tag(a.intersectAll(b), "intersect_all").unionByName(
        tag(a.exceptAll(b), "except_all")
    )
    return both.groupBy("op", "l_suppkey").agg(F.count(F.lit(1)).alias("multiplicity"))


@register("agg_grouping_sets", oracle="""
SELECT l_returnflag, l_linestatus,
       count(*) AS n_rows,
       round(sum(l_quantity), 2) AS sum_qty,
       CAST(grouping(l_returnflag, l_linestatus) AS INT) AS gid
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
""")
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form ROLLUP/CUBE compile to):
    (flag, status), (flag), and grand total — one Expand, one shuffle."""
    cat = Catalog(spark, sf_dir)
    cat["lineitem"].createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               count(*) AS n_rows,
               round(sum(l_quantity), 2) AS sum_qty,
               CAST(grouping_id() AS INT) AS gid
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


# ---------------------------------------------------------------------------
# windows: first_value / last_value / nth_value
# ---------------------------------------------------------------------------


@register("window_first_last_nth", oracle="""
SELECT o_orderkey, o_custkey,
       round(first_value(o_totalprice) OVER w, 2) AS first_price,
       round(last_value(o_totalprice) OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2)
         AS last_price,
       round(nth_value(o_totalprice, 2) OVER w, 2) AS second_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""")
def q_window_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value window functions per customer order history: first order's
    price, last (full-frame), and second (running frame, NULL until two
    rows are visible).  Deterministic tiebreak on o_orderkey."""
    cat = Catalog(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return cat["orders"].select(
        "o_orderkey",
        "o_custkey",
        F.round(F.first_value("o_totalprice").over(w), 2).alias("first_price"),
        F.round(F.last_value("o_totalprice").over(w_full), 2).alias("last_price"),
        F.round(F.nth_value("o_totalprice", 2).over(w), 2).alias("second_price"),
    )


# ---------------------------------------------------------------------------
# higher-order array functions
# ---------------------------------------------------------------------------


@register("array_higher_order", oracle="""
SELECT vec_id,
       CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
       round(list_sum(list_filter(CAST(embedding AS DOUBLE[]), x -> x > 0)), 6)
         AS sum_pos,
       len(list_filter(embedding, x -> x > 0.9)) > 0 AS has_big,
       round(list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)), 6)
         AS max_sq,
       round(list_dot_product(CAST(embedding AS DOUBLE[]),
                              list_reverse(CAST(embedding AS DOUBLE[]))), 6)
         AS rev_dot
FROM embeddings
""")
def q_array_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lambda (higher-order) array functions over embeddings — all
    codegen, no UDF: filter, exists, transform, zip_with fold.
    Arithmetic in double (float32→float64 widening is exact)."""
    from rdbms_subsetter_spark.operators.similarity import dot

    cat = Catalog(spark, sf_dir)
    e = F.col("embedding")
    pos = F.filter(e, lambda x: x > 0)
    return cat["embeddings"].select(
        "vec_id",
        F.size(pos).alias("n_pos"),
        F.round(
            F.aggregate(pos, F.lit(0.0), lambda a, x: a + x.cast("double")), 6
        ).alias("sum_pos"),
        F.exists(e, lambda x: x > 0.9).alias("has_big"),
        F.round(
            F.array_max(F.transform(e, lambda x: x.cast("double") * x.cast("double"))),
            6,
        ).alias("max_sq"),
        F.round(dot(e, F.reverse(e)), 6).alias("rev_dot"),
    )


@register("explode_posexplode", oracle="""
SELECT p_partkey,
       CAST(i - 1 AS INT) AS word_idx,
       l[CAST(i AS INT)] AS word
FROM (SELECT p_partkey, string_split(p_name, ' ') AS l FROM part),
     unnest(range(1, len(l) + 1)) AS t(i)
""")
def q_explode_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode (ordinal lateral expansion) of part names into words —
    the built-in Generate operator (vs the Python-UDTF path): narrow,
    no shuffle, pipelined inside the scan stage."""
    cat = Catalog(spark, sf_dir)
    return cat["part"].select(
        "p_partkey",
        F.posexplode(F.split(F.col("p_name"), " ")).alias("word_idx", "word"),
    )


@register("sql_correlated_scalar", oracle="""
SELECT p_partkey, p_brand,
       round(p_retailprice - (SELECT avg(p2.p_retailprice) FROM part p2
                              WHERE p2.p_brand = p.p_brand), 2) AS above_brand_avg
FROM part p
WHERE p_retailprice > (SELECT avg(p2.p_retailprice) FROM part p2
                       WHERE p2.p_brand = p.p_brand)
""")
def q_sql_correlated_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar AGGREGATE subquery: parts priced above their
    own brand's average.  Catalyst decorrelates it into a grouped
    aggregate joined back on the correlation key — never a per-row
    subquery execution."""
    cat = Catalog(spark, sf_dir)
    cat["part"].createOrReplaceTempView("part")
    return spark.sql(
        """
        SELECT p_partkey, p_brand,
               round(p_retailprice - (SELECT avg(p2.p_retailprice) FROM part p2
                                      WHERE p2.p_brand = p.p_brand), 2)
                 AS above_brand_avg
        FROM part p
        WHERE p_retailprice > (SELECT avg(p2.p_retailprice) FROM part p2
                               WHERE p2.p_brand = p.p_brand)
        """
    )


@register("merge_upsert_latest", oracle="""
WITH latest AS (
  SELECT user_id AS key, round(value, 2) AS new_val FROM (
    SELECT user_id, value,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events) WHERE rn = 1),
base AS (SELECT c_custkey AS key, round(c_acctbal, 2) AS old_val FROM customer)
SELECT coalesce(base.key, latest.key) AS key,
       coalesce(new_val, old_val) AS balance,
       new_val IS NOT NULL AS updated,
       old_val IS NULL AS inserted
FROM base FULL OUTER JOIN latest ON base.key = latest.key
""")
def q_merge_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert as a snapshot rewrite (the parquet-native form of
    ``MERGE INTO``): latest event value per user upserted into the
    customer snapshot — matched rows updated, unmatched base rows kept,
    unmatched updates inserted.

    Latest-per-key via max_by on (ts, event_id); the merge itself is a
    single full-outer join on the key.  At scale both sides shuffle on
    the key once; with a bucketed base table the join is shuffle-free.
    """
    cat = Catalog(spark, sf_dir)
    latest = (
        cat["events"]
        .groupBy(F.col("user_id").alias("key"))
        .agg(
            F.round(
                F.max_by(F.col("value"), F.struct(F.col("ts"), F.col("event_id"))), 2
            ).alias("new_val")
        )
    )
    base = cat["customer"].select(
        F.col("c_custkey").alias("key"), F.round(F.col("c_acctbal"), 2).alias("old_val")
    )
    return base.join(latest, on="key", how="full_outer").select(
        "key",
        F.coalesce("new_val", "old_val").alias("balance"),
        F.col("new_val").isNotNull().alias("updated"),
        F.col("old_val").isNull().alias("inserted"),
    )


# ---------------------------------------------------------------------------
# UDF surface: scalar Arrow pandas UDF
# ---------------------------------------------------------------------------


@register("udf_scalar_pandas", oracle="""
SELECT event_id,
       round(((value * 0.25 + 1.5) * value - 2.0) * value, 6) AS cubic_val
FROM events
""")
def q_udf_scalar_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar ``pandas_udf`` over events.value (Arrow batch in, numpy
    vectorized, Arrow batch out) — pure-arithmetic cubic so the result
    is bit-exact vs the oracle."""
    from rdbms_subsetter_spark.functions import horner_cubic

    cubic = horner_cubic()
    cat = Catalog(spark, sf_dir)
    return cat["events"].select(
        "event_id",
        F.round(cubic(F.col("value")), 6).alias("cubic_val"),
    )


@register("agg_salted_skew", oracle="""
SELECT l_returnflag, count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty
FROM lineitem GROUP BY l_returnflag
""")
def q_agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation: lineitem has only 3 returnflag
    groups (worst-case key skew — every row lands on 3 reducers), so
    the salted form partial-aggregates on (key, salt) first.  The
    oracle is the PLAIN group-by: salting must be invisible in the
    result."""
    from rdbms_subsetter_spark.partitioning import salted_agg

    cat = Catalog(spark, sf_dir)
    out = salted_agg(
        cat["lineitem"], ["l_returnflag"], {"l_quantity": "sum_qty"}, salt=16
    )
    return out.select(
        "l_returnflag", "n_rows", F.round("sum_qty", 2).alias("sum_qty")
    )


@register("join_bucketed", oracle="""
SELECT o_orderpriority,
       count(*) AS n_lines,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""")
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free co-located join: orders and lineitem bucketed on the
    join key (8 buckets, sorted), joined WITHOUT any exchange — the
    pre-partitioned layout that makes the recurring fact-fact join at
    100 TB a map-side merge.  Zero-shuffle shape asserted in
    tests/test_scale_plans.py; the oracle is the plain join."""
    import hashlib

    from rdbms_subsetter_spark.partitioning import write_bucketed
    from rdbms_subsetter_spark.session import pin_session_conf

    import shutil
    from urllib.parse import urlparse

    pin_session_conf(spark)
    cat = Catalog(spark, sf_dir)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    ob, lb = f"orders_bq_{tag}", f"lineitem_bq_{tag}"
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in (ob, lb):
        # a prior PROCESS may have left the managed location on disk while
        # this session's in-memory catalog has no such table — saveAsTable
        # then raises LOCATION_ALREADY_EXISTS; drop both sides first
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
    write_bucketed(cat["orders"], ob, ["o_orderkey"], n_buckets=8, sort_cols=["o_orderkey"])
    write_bucketed(cat["lineitem"], lb, ["l_orderkey"], n_buckets=8, sort_cols=["l_orderkey"])
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        spark.table(lb)
        .join(spark.table(ob), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum(rev), 2).alias("revenue"),
        )
    )


@register("scalar_try_functions", oracle="""
SELECT l_orderkey, l_linenumber,
       round(CASE WHEN l_discount = 0 THEN NULL
                  ELSE l_extendedprice / l_discount END, 4) AS price_per_discount,
       CAST(NULL AS DOUBLE) AS div_zero,
       TRY_CAST(l_returnflag AS INT) AS flag_as_int,
       TRY_CAST(CAST(l_orderkey AS VARCHAR) AS INT) AS key_roundtrip
FROM lineitem
""")
def q_scalar_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI error-safe scalar surface: try_divide / try_cast return NULL
    where strict evaluation would raise — the semantics batch pipelines
    need to survive dirty data without per-row exception handling."""
    cat = Catalog(spark, sf_dir)
    return cat["lineitem"].select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.try_divide(F.col("l_extendedprice"), F.col("l_discount")), 4).alias(
            "price_per_discount"  # NULL where discount = 0
        ),
        F.try_divide(F.lit(1.0), F.col("l_tax") - F.col("l_tax")).alias("div_zero"),
        F.col("l_returnflag").try_cast("int").alias("flag_as_int"),  # NULL
        F.col("l_orderkey").cast("string").try_cast("int").alias("key_roundtrip"),
    )


# ---------------------------------------------------------------------------
# modern aggregate surface
# ---------------------------------------------------------------------------


@register("agg_listagg", oracle="""
SELECT c_mktsegment,
       string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS priorities,
       percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS median_price,
       count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""")
def q_agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (listagg WITHIN GROUP / string_agg) +
    median: per market segment, the sorted distinct order priorities as
    one CSV string and the median order value. Interpolated median
    (percentile_cont) differs across engines in the last ulp — enough to
    flip a round(2) at the half-cent boundary — so the discrete median
    (percentile_disc: ANSI smallest value with cume_dist >= 0.5) is used;
    it returns an actual data value, bit-identical on both engines."""
    cat = Catalog(spark, sf_dir)
    return (
        cat["orders"]
        .join(cat["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.expr(
                "listagg(DISTINCT o_orderpriority, ',') "
                "WITHIN GROUP (ORDER BY o_orderpriority)"
            ).alias("priorities"),
            F.expr(
                "percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)"
            ).alias("median_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register("agg_argminmax", oracle="""
SELECT c_nationkey,
       arg_max(c_name, c_custkey) AS newest_cust,
       arg_min(c_name, c_custkey) AS oldest_cust,
       count(*) FILTER (WHERE c_acctbal > 0) AS n_positive,
       count(*) AS n_cust
FROM customer GROUP BY c_nationkey
""")
def q_agg_argminmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arg-extremum + conditional-count aggregates: per nation, the
    customer names at min/max custkey (unique ordering key -> fully
    deterministic, no tie ambiguity) and the count of positive-balance
    customers (count_if / FILTER clause)."""
    cat = Catalog(spark, sf_dir)
    return (
        cat["customer"]
        .groupBy("c_nationkey")
        .agg(
            F.max_by("c_name", "c_custkey").alias("newest_cust"),
            F.min_by("c_name", "c_custkey").alias("oldest_cust"),
            F.count_if(F.col("c_acctbal") > 0).alias("n_positive"),
            F.count(F.lit(1)).alias("n_cust"),
        )
    )


# ---------------------------------------------------------------------------
# LATERAL join
# ---------------------------------------------------------------------------

# Same SQL text on both engines. The LATERAL subquery is the SQL-native
# form of the reference's per-parent capped child pull; Spark plans the
# correlated ORDER BY .. LIMIT as a lateral join with a per-row local
# top-k (no global shuffle of customer).
_LATERAL_TOPK_SQL = """
SELECT n.n_name, l.c_name, l.c_acctbal
FROM nation n, LATERAL (
  SELECT c_name, c_acctbal
  FROM customer
  WHERE c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_custkey
  LIMIT 2
) l
"""


@register("sql_lateral_topk", oracle=_LATERAL_TOPK_SQL)
def q_sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via correlated LATERAL subquery (ORDER BY + LIMIT
    inside the lateral): top-2 customers by balance per nation, custkey
    tiebreak. SQL twin of child_topk's window form (reference op #10)."""
    cat = Catalog(spark, sf_dir)
    for t in ("nation", "customer"):
        cat[t].createOrReplaceTempView(t)
    return spark.sql(_LATERAL_TOPK_SQL)


_SQL_JOIN_SALTED_SKEW = """
SELECT c_mktsegment, count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


@register("join_salted_skew", oracle=_SQL_JOIN_SALTED_SKEW)
def q_join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted equi-join as a graded query: events ⋈ customer
    through the explicit (key, salt) widening in
    ``partitioning.salted_join`` — the pattern for a hot key whose
    reduce side outgrows one task when the dim side can't broadcast.
    Result must equal the plain join (the oracle), only the plan
    differs; the revenue roll-up proves no row was lost or doubled."""
    cat = Catalog(spark, sf_dir)
    ev = cat["events"].select("user_id", "value")
    cust = cat["customer"].select("c_custkey", "c_mktsegment")
    joined = partitioning.salted_join(ev, cust, "user_id", "c_custkey", salt=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


_SQL_WINDOW_RUNNING_DISTINCT = """
SELECT o_custkey, o_orderkey,
       CAST(count(DISTINCT o_orderpriority) OVER w AS INT) AS n_distinct_prio,
       count(*) OVER w AS n_orders_so_far
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_nationkey = 7)
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


@register("window_running_distinct", oracle=_SQL_WINDOW_RUNNING_DISTINCT)
def q_window_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running DISTINCT count over a growing frame — Spark has no
    windowed count(DISTINCT), so the set itself is carried:
    size(collect_set() OVER (...rows unbounded preceding)).  Works when
    per-key cardinality is bounded (5 priorities here); for unbounded
    domains the scale path is the sketch twin (approx_count_distinct
    partials merged along the frame).  Restricted to one nation's
    customers to keep the graded output small."""
    cat = Catalog(spark, sf_dir)
    ords = (
        cat["orders"]
        .join(
            F.broadcast(
                cat["customer"].filter(F.col("c_nationkey") == 7)
            ).select("c_custkey"),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_semi",
        )
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ords.select(
        "o_custkey",
        "o_orderkey",
        F.size(F.collect_set("o_orderpriority").over(w)).alias("n_distinct_prio"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_orders_so_far"),
    )


_SQL_JSON_VARIANT = """
SELECT event_type, count(*) AS n_events,
       CAST(sum(TRY_CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
       min(TRY_CAST(props->>'$.k' AS BIGINT)) AS min_k,
       max(TRY_CAST(props->>'$.k' AS BIGINT)) AS max_k,
       count(*) FILTER (WHERE TRY_CAST(props->>'$.k' AS BIGINT) IS NULL) AS n_null_k
FROM events
GROUP BY event_type
"""


@register("json_variant_extract", oracle=_SQL_JSON_VARIANT)
def q_json_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through the Spark 4 VARIANT type: props is
    parsed ONCE into a variant column, then every field access is a
    cheap ``variant_get`` path lookup on the binary encoding — the
    at-scale answer to repeated ``get_json_object`` string re-parses
    (one parse per field per row).  Aggregated per event_type so the
    oracle hash-checks the extracted values, not the opaque variant.

    try_ variants throughout: props is untrusted — under ANSI mode
    ``parse_json`` throws on malformed JSON and ``variant_get`` throws
    INVALID_VARIANT_CAST on a non-numeric k; the try_ forms yield NULL,
    matching the oracle's TRY_CAST, and n_null_k counts exactly those
    rows on both sides."""
    cat = Catalog(spark, sf_dir)
    v = F.try_parse_json(F.col("props"))
    return (
        cat["events"]
        .select(
            "event_type",
            F.try_variant_get(v, "$.k", "bigint").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.count_if(F.col("k").isNull()).alias("n_null_k"),
        )
    )


_SQL_PIPE_SYNTAX = """
SELECT o_orderpriority, CAST(year(o_orderdate) AS INT) AS o_year,
       count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_price
FROM orders
WHERE o_orderstatus <> 'P'
GROUP BY 1, 2
HAVING count(*) > 5
"""


@register("sql_pipe_syntax", oracle=_SQL_PIPE_SYNTAX)
def q_sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4 ``|>`` operators): the same logical plan
    as the nested-subquery form, written as a linear pipeline —
    scan |> filter |> aggregate |> filter |> order.  Catalyst compiles
    both spellings identically (pushdown, partial aggs); the oracle is
    the plain-SQL twin.

    The source is bound via a scoped, uniquely-named temp view that is
    dropped before returning (the DataFrame holds the resolved plan, not
    the name): registering it as 'orders' would leak a session-global
    view shadowing the catalog table for every later query in the same
    session — stale if sf_dir changes."""
    from rdbms_subsetter_spark.session import stable_suffix

    cat = Catalog(spark, sf_dir)
    view = f"__pipe_orders_{stable_suffix(sf_dir)}"
    cat["orders"].createOrReplaceTempView(view)
    try:
        return spark.sql(
            f"""
            FROM {view}
            |> WHERE o_orderstatus <> 'P'
            |> AGGREGATE count(*) AS n_orders,
                         round(sum(o_totalprice), 2) AS total_price
               GROUP BY o_orderpriority, CAST(year(o_orderdate) AS INT) AS o_year
            |> WHERE n_orders > 5
            """
        )
    finally:
        spark.catalog.dropTempView(view)


_SQL_MAP_IN_ARROW = """
SELECT vec_id,
       round(list_dot_product(CAST(embedding AS DOUBLE[]),
                              CAST(embedding AS DOUBLE[])), 6) AS norm_sq
FROM embeddings
"""


@register("udf_map_in_arrow", oracle=_SQL_MAP_IN_ARROW)
def q_udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-copy batch transform via ``mapInArrow``: RecordBatches flow
    straight from the scan into pyarrow with NO pandas materialization —
    the cheapest Python hook Spark has, the right one for tight
    numeric kernels over wide batches.  Computes each embedding's
    squared L2 norm with an explicit left-fold accumulation so the
    double matches DuckDB's sequential ``list_dot_product`` exactly."""
    import pyarrow as pa

    cat = Catalog(spark, sf_dir)

    def norms(batches):
        for batch in batches:
            ids = batch.column("vec_id")
            embs = batch.column("embedding")
            out = []
            for lst in embs.to_pylist():
                acc = 0.0
                for x in lst:
                    acc += float(x) * float(x)
                out.append(acc)
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(out, type=pa.float64())],
                names=["vec_id", "norm_sq"],
            )

    return (
        cat["embeddings"]
        .select("vec_id", "embedding")
        .mapInArrow(norms, "vec_id long, norm_sq double")
        .select("vec_id", F.round("norm_sq", 6).alias("norm_sq"))
    )


_SQL_GROUP_BY_ALL = """
SELECT l_returnflag, l_linestatus,
       count(*) AS n_rows,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY ALL
"""


# ---------------------------------------------------------------------------
# SQL surface: GROUP BY ALL, UNPIVOT
# ---------------------------------------------------------------------------


@register("sql_group_by_all", oracle=_SQL_GROUP_BY_ALL)
def q_sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL (Spark 3.4+/DuckDB): every non-aggregate select item
    becomes a grouping key — same plan as an explicit GROUP BY."""
    cat = Catalog(spark, sf_dir)
    cat["lineitem"].createOrReplaceTempView("_gba_lineitem")
    try:
        return spark.sql(
            """
            SELECT l_returnflag, l_linestatus,
                   count(*) AS n_rows,
                   round(sum(l_quantity), 2) AS sum_qty
            FROM _gba_lineitem
            GROUP BY ALL
            """
        )
    finally:
        spark.catalog.dropTempView("_gba_lineitem")


_SQL_AGG_UNPIVOT = """
WITH wide AS (
  SELECT n_name,
         CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS total_cents,
         CAST(floor(sum(CAST(round(c_acctbal * 100) AS BIGINT)) * 1.0 / count(*)) AS BIGINT) AS avg_cents,
         count(*) AS n_customers
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name)
SELECT n_name, metric, val
FROM wide
UNPIVOT (val FOR metric IN (total_cents, avg_cents, n_customers))
"""


@register("agg_unpivot_grouped", oracle=_SQL_AGG_UNPIVOT)
def q_agg_unpivot_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long UNPIVOT of a per-nation measure table (melt).  Uses the
    DataFrame ``unpivot`` API (Spark 3.4+); the oracle uses DuckDB's
    standard UNPIVOT clause — both produce (n_name, metric, val)."""
    cat = Catalog(spark, sf_dir)
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    wide = (
        cat["customer"]
        .join(cat["nation"], F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            # integer cents: exact cross-engine arithmetic (float sums
            # round differently at .xx5 boundaries between engines)
            F.sum(cents).alias("total_cents"),
            F.floor(F.sum(cents) / F.count(F.lit(1))).alias("avg_cents"),
            F.count(F.lit(1)).alias("n_customers"),
        )
    )
    return wide.unpivot(
        ids=["n_name"],
        values=["total_cents", "avg_cents", "n_customers"],
        variableColumnName="metric",
        valueColumnName="val",
    )


_SQL_DQ_REPORT = """
WITH o AS (
  SELECT count(*) AS n, count(o_custkey) AS n_cust,
         count(DISTINCT o_orderkey) AS n_key,
         sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 ELSE 0 END) AS n_status,
         sum(CASE WHEN o_totalprice >= 0 THEN 1 ELSE 0 END) AS n_pos
  FROM orders),
r AS (
  SELECT count(*) AS n, count(o.o_orderkey) AS n_matched
  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey),
m AS (
  SELECT 'orders.o_custkey.completeness' AS check_name,
         round(n_cust * 1.0 / n, 6) AS metric FROM o
  UNION ALL
  SELECT 'orders.o_orderkey.uniqueness', round(n_key * 1.0 / n, 6) FROM o
  UNION ALL
  SELECT 'orders.o_orderstatus.accepted_values', round(n_status * 1.0 / n, 6) FROM o
  UNION ALL
  SELECT 'orders.o_totalprice.non_negative', round(n_pos * 1.0 / n, 6) FROM o
  UNION ALL
  SELECT 'lineitem.l_orderkey.ref_orders', round(n_matched * 1.0 / n, 6) FROM r)
SELECT check_name, metric,
       CASE WHEN metric >= 1.0 THEN 'pass' ELSE 'fail' END AS status
FROM m
"""


# ---------------------------------------------------------------------------
# Data-quality constraint report (Deequ-style checks)
# ---------------------------------------------------------------------------


@register("dq_constraint_report", oracle=_SQL_DQ_REPORT)
def q_dq_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality constraint suite in the Deequ style:
    completeness, key uniqueness, accepted-values, bounds, and
    referential integrity — each check one row of (check name, metric,
    pass/fail).  Per-table checks fold into a single aggregate per scan;
    the referential check is a broadcast-able anti-join count.  All
    metrics are exact integer ratios (deterministic cross-engine)."""
    cat = Catalog(spark, sf_dir)
    orders, li = cat["orders"], cat["lineitem"]

    def report(name: str, metric: F.Column, threshold: float) -> F.Column:
        m = F.round(metric, 6)
        return F.struct(
            F.lit(name).alias("check_name"),
            m.alias("metric"),
            F.when(m >= threshold, F.lit("pass")).otherwise(F.lit("fail")).alias("status"),
        )

    o_checks = orders.agg(
        F.array(
            # try_divide everywhere: on an EMPTY table every ratio is
            # NULL (ANSI / would throw), and report() marks a NULL
            # metric "fail" -- no data is a failed check, not a crash
            report(
                "orders.o_custkey.completeness",
                F.try_divide(F.count("o_custkey"), F.count(F.lit(1))),
                1.0,
            ),
            report(
                "orders.o_orderkey.uniqueness",
                F.try_divide(F.count_distinct("o_orderkey"), F.count(F.lit(1))),
                1.0,
            ),
            report(
                "orders.o_orderstatus.accepted_values",
                F.try_divide(
                    F.sum(F.col("o_orderstatus").isin("O", "F", "P").cast("long")),
                    F.count(F.lit(1)),
                ),
                1.0,
            ),
            report(
                "orders.o_totalprice.non_negative",
                F.try_divide(
                    F.sum((F.col("o_totalprice") >= 0).cast("long")),
                    F.count(F.lit(1)),
                ),
                1.0,
            ),
        ).alias("arr")
    ).select(F.explode("arr").alias("r"))
    ref_metric = F.try_divide(F.count("o_orderkey"), F.count(F.lit(1)))
    ref_check = (
        li.join(
            orders.select("o_orderkey"),
            li["l_orderkey"] == F.col("o_orderkey"),
            "left",
        )
        .agg(F.array(report("lineitem.l_orderkey.ref_orders", ref_metric, 1.0)).alias("arr"))
        .select(F.explode("arr").alias("r"))
    )
    return o_checks.unionByName(ref_check).select("r.check_name", "r.metric", "r.status")


_BENFORD = {d: round(_math.log10(1 + 1 / d), 6) for d in range(1, 10)}


# CAST: DuckDB types bare decimal literals as DECIMAL (stringifies
# '0.301030'); Spark's map literal is double ('0.30103')
_BENFORD_CASE = " ".join(
    f"WHEN {d} THEN CAST({p} AS DOUBLE)" for d, p in _BENFORD.items()
)

_SQL_BENFORD = f"""
WITH counted AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
         count(*) AS n
  FROM orders WHERE o_totalprice > 0
  GROUP BY 1)
SELECT digit, n,
       round(n * 1.0 / sum(n) OVER (), 6) AS observed_freq,
       CASE digit {_BENFORD_CASE} END AS benford_freq,
       round(abs(n * 1.0 / sum(n) OVER () - CASE digit {_BENFORD_CASE} END), 6) AS abs_deviation
FROM counted
"""


@register("dq_benford_digits", oracle=_SQL_BENFORD)
def q_dq_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the standard
    forensic data-quality scan for fabricated or truncated numeric
    columns.  The leading digit is taken from the integer-cents string
    (canonical integer→string in every engine; float→string is not
    portable), expected frequencies are precomputed literals so both
    engines compare against identical constants."""
    cat = Catalog(spark, sf_dir)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    counted = (
        cat["orders"]
        .where(F.col("o_totalprice") > 0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy()
    expected = F.create_map(
        *[x for d, p in _BENFORD.items() for x in (F.lit(d), F.lit(p))]
    )
    return counted.select(
        "digit",
        "n",
        F.round(F.col("n") / F.sum("n").over(w), 6).alias("observed_freq"),
        expected[F.col("digit")].alias("benford_freq"),
        F.round(
            F.abs(F.col("n") / F.sum("n").over(w) - expected[F.col("digit")]), 6
        ).alias("abs_deviation"),
    )


# DuckDB dayofweek: 0=Sunday; Spark dayofweek: 1=Sunday — shift to match
_SQL_ORDERS_SEASONALITY = """
WITH agg AS (
  SELECT dayofweek(o_orderdate) + 1 AS dow,
         count(*) AS n_orders,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS sum_cents
  FROM orders GROUP BY 1)
SELECT dow, n_orders,
       round(sum_cents * 1.0 / n_orders / 100.0, 4) AS avg_value,
       round((sum_cents * 1.0 / n_orders)
             / (sum(sum_cents) OVER () * 1.0 / sum(n_orders) OVER ()), 6) AS seasonality_index
FROM agg
"""


# ---------------------------------------------------------------------------
# Seasonality index
# ---------------------------------------------------------------------------


@register("orders_seasonality", oracle=_SQL_ORDERS_SEASONALITY)
def q_orders_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality index of order revenue: per-dow average
    order value relative to the overall average (index 1.0 = neutral).
    Integer-cents sums keep the cross-engine arithmetic exact; the
    final ratios divide identical integers.  One scan, 7-row domain,
    window-over-aggregate for the global denominator."""
    cat = Catalog(spark, sf_dir)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    agg = (
        cat["orders"]
        .select(F.dayofweek("o_orderdate").alias("dow"), cents.alias("cents"))
        .groupBy("dow")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.sum("cents").alias("sum_cents"))
    )
    w_all = Window.partitionBy()
    overall_avg = F.sum("sum_cents").over(w_all) / F.sum("n_orders").over(w_all)
    return agg.select(
        "dow",
        "n_orders",
        F.round(F.col("sum_cents") / F.col("n_orders") / 100.0, 4).alias("avg_value"),
        F.round((F.col("sum_cents") / F.col("n_orders")) / overall_avg, 6).alias(
            "seasonality_index"
        ),
    )


_SQL_PARETO = """
WITH per_part AS (
  SELECT l_partkey,
         sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS rev
  FROM lineitem GROUP BY l_partkey),
ranked AS (
  SELECT rev,
         row_number() OVER (ORDER BY rev DESC, l_partkey) AS rnk,
         sum(rev) OVER (ORDER BY rev DESC, l_partkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev,
         sum(rev) OVER () AS tot_rev,
         count(*) OVER () AS n_parts
  FROM per_part)
SELECT p.top_pct,
       CAST(rnk AS INT) AS n_top_parts,
       round(cum_rev * 1.0 / tot_rev, 6) AS revenue_share
FROM ranked
JOIN (VALUES (1), (5), (10), (25), (50)) AS p(top_pct)
  ON rnk = CAST(ceil(n_parts * p.top_pct / 100.0) AS INT)
"""


# ---------------------------------------------------------------------------
# Pareto concentration curve
# ---------------------------------------------------------------------------


@register("lineitem_pareto_share", oracle=_SQL_PARETO)
def q_lineitem_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/ABC concentration analysis: parts ranked by revenue, the
    cumulative revenue share at the top-1/5/10/25/50% rank cuts — the
    '80/20' report.  The expensive part is ONE aggregate over partkey;
    the ranking window runs over the already-reduced per-part frame,
    and the output is 5 rows.  Integer-cents revenue keeps cumulative
    sums exact across engines."""
    cat = Catalog(spark, sf_dir)
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
        "long"
    )
    per_part = (
        cat["lineitem"]
        .select("l_partkey", cents.alias("cents"))
        .groupBy("l_partkey")
        .agg(F.sum("cents").alias("rev"))
    )
    w_rank = Window.orderBy(F.desc("rev"), "l_partkey")
    w_all = Window.partitionBy()
    ranked = per_part.select(
        "rev",
        F.row_number().over(w_rank).alias("rnk"),
        F.sum("rev").over(w_rank.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "cum_rev"
        ),
        F.sum("rev").over(w_all).alias("tot_rev"),
        F.count(F.lit(1)).over(w_all).alias("n_parts"),
    )
    # the rank cut for p% is ceil(n*p/100): each row tests itself
    # against all five cut ranks in one projection + explode — a
    # cuts-table join would be a non-equi BNLJ, and five re-filters
    # would recompute the whole window subtree five times
    cuts = F.filter(
        F.array(*[F.lit(p) for p in (1, 5, 10, 25, 50)]),
        lambda p: F.ceil(F.col("n_parts") * p / 100).cast("int") == F.col("rnk"),
    )
    return ranked.select(
        F.explode(cuts).alias("top_pct"),
        F.col("rnk").alias("n_top_parts"),
        F.round(F.col("cum_rev") / F.col("tot_rev"), 6).alias("revenue_share"),
    )


_SQL_NULL_SEMANTICS = """
WITH s AS (
  SELECT s_suppkey,
         CASE WHEN s_suppkey % 7 != 0 THEN s_acctbal END AS bal,
         s_nationkey
  FROM supplier)
SELECT count(*) AS n_rows,
       count(bal) AS n_nonnull,
       CAST(sum(CASE WHEN bal IS NOT DISTINCT FROM NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nullsafe_null,
       CAST(sum(CASE WHEN nullif(s_nationkey, 0) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nullif_zero,
       round(sum(coalesce(bal, 0.0)), 2) AS sum_coalesced,
       min(CASE WHEN bal IS NULL THEN s_suppkey END) AS first_null_key
FROM s
"""


# ---------------------------------------------------------------------------
# Null semantics battery
# ---------------------------------------------------------------------------


@register("sql_null_semantics", oracle=_SQL_NULL_SEMANTICS)
def q_sql_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-valued-logic battery over a column with injected nulls:
    null-safe equality (Spark ``<=>`` ≡ SQL IS NOT DISTINCT FROM),
    NULLIF/COALESCE chains, count(col) vs count(*) null skipping, and
    NULLS FIRST ordering — the semantics corner every engine must agree
    on exactly.  One scan, one tiny aggregate."""
    cat = Catalog(spark, sf_dir)
    # deterministic null injection: every 7th supplier's acctbal
    s = cat["supplier"].select(
        "s_suppkey",
        F.when(F.col("s_suppkey") % 7 != 0, F.col("s_acctbal")).alias("bal"),
        F.col("s_nationkey"),
    )
    nullsafe_zero = F.expr("bal <=> CAST(NULL AS DOUBLE)")
    return s.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("bal").alias("n_nonnull"),
        F.sum(nullsafe_zero.cast("long")).alias("n_nullsafe_null"),
        F.sum(F.nullif(F.col("s_nationkey"), F.lit(0)).isNull().cast("long")).alias(
            "n_nullif_zero"
        ),
        F.round(F.sum(F.coalesce(F.col("bal"), F.lit(0.0))), 2).alias("sum_coalesced"),
        F.min(F.when(F.col("bal").isNull(), F.col("s_suppkey"))).alias(
            "first_null_key"
        ),
    )


_SQL_OBSERVED_METRICS = """
SELECT count(*) AS n_open,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS open_cents,
       count(CASE WHEN o_custkey IS NULL THEN 1 END) AS n_null_custkey
FROM orders
WHERE o_orderstatus = 'O'
"""


# ---------------------------------------------------------------------------
# Observation API metrics
# ---------------------------------------------------------------------------


@register("dq_observed_metrics", oracle=_SQL_OBSERVED_METRICS)
def q_dq_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-attached runtime metrics via the DataFrame ``observe`` API:
    the same pass that materializes a filtered projection also records
    its audit metrics (row count, null count, sum) with ZERO extra scans
    — at 100 TB this is how per-job data-quality counters ship without a
    second aggregation job.  The observed values are returned as a
    one-row frame; the oracle recomputes them declaratively."""
    from pyspark.sql import Observation

    cat = Catalog(spark, sf_dir)
    obs = Observation("dq")
    observed = (
        cat["orders"]
        .where(F.col("o_orderstatus") == "O")
        .observe(
            obs,
            F.count(F.lit(1)).alias("n_open"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "open_cents"
            ),
            F.count_if(F.col("o_custkey").isNull()).alias("n_null_custkey"),
        )
    )
    observed.write.format("noop").mode("overwrite").save()  # drive the pass
    m = obs.get
    return spark.createDataFrame(
        [(m["n_open"], m["open_cents"], m["n_null_custkey"])],
        "n_open long, open_cents long, n_null_custkey long",
    )


# ---------------------------------------------------------------------------
# Equi-depth histogram
# ---------------------------------------------------------------------------

_EQD_BUCKETS = 10


_SQL_EQUIDEPTH = f"""
WITH bounds AS (
  SELECT quantile_cont(o_totalprice,
           [{", ".join(str(i / _EQD_BUCKETS) for i in range(1, _EQD_BUCKETS))}]) AS bs
  FROM orders),
bucketed AS (
  SELECT o_totalprice,
         CAST(len(list_filter((SELECT bs FROM bounds), b -> o_totalprice > b)) AS INT) AS bucket
  FROM orders)
SELECT bucket, count(*) AS n_orders,
       round(min(o_totalprice), 2) AS lo,
       round(max(o_totalprice), 2) AS hi
FROM bucketed
GROUP BY bucket
"""


@register("equidepth_histogram", oracle=_SQL_EQUIDEPTH)
def q_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (decile) histogram of order totals — the statistic
    behind data-skipping zone maps and range-partition planning
    (equi-WIDTH buckets collapse under skew; equi-depth bounds every
    bucket at ~n/k rows by construction).  Boundaries come from ONE
    exact-percentile aggregate (bounded driver scalars, the IVF/PCA
    fit convention), bucketing is a literal CASE in codegen on a second
    scan."""
    cat = Catalog(spark, sf_dir)
    orders = cat["orders"]
    qs = [i / _EQD_BUCKETS for i in range(1, _EQD_BUCKETS)]
    # ONE percentile buffer for all nine boundaries (the array form);
    # nine scalar percentile() aggregates each maintain their own
    # sorted buffer over the full column (measured 3.0 -> 1.3 s)
    bounds = orders.agg(
        F.percentile(
            F.col("o_totalprice"), F.array(*[F.lit(q) for q in qs])
        ).alias("bs")
    ).collect()[0]["bs"]
    # empty input: percentile of zero rows is NULL -> no boundaries,
    # every (non-existent) row would fall in bucket 0, output is empty
    if bounds is None:
        bounds = []
    bucket = F.lit(0)
    for b in bounds:
        bucket = bucket + (F.col("o_totalprice") > F.lit(b)).cast("int")
    return (
        orders.select(bucket.alias("bucket"), "o_totalprice")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


_SQL_SKETCH_BOUNDS = """
SELECT l_returnflag,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_part,
       TRUE AS supp_ok, TRUE AS part_ok, TRUE AS median_ok
FROM lineitem
GROUP BY l_returnflag
"""


@register("agg_sketch_error_bounds", oracle=_SQL_SKETCH_BOUNDS)
def q_agg_sketch_error_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-graded accuracy gate for the sketch aggregates that back the
    rows-only ``agg_approx_sketches`` entry.  Sketch estimates are
    engine-specific, so instead of comparing values the query computes
    BOTH the sketch and the exact answer per group in Spark and emits
    booleans asserting the error contracts — the oracle computes the
    exact counts from the data and asserts the booleans TRUE, so any
    accuracy regression in the HLL++ / quantile-sketch path breaks the
    hash:

    * ``approx_count_distinct(rsd=0.02)`` within 5·rsd of exact (±1
      minimum slack).  NOTE: rsd is a standard deviation, not a
      worst-case bound — adversarial hash-collision sets can exceed
      any fixed bound (see tests/test_round4_property.py) — but the
      estimate is DETERMINISTIC per input, so on the fixed gate
      datasets this boolean is a stable verified fact, which is
      exactly what the hash gate needs; the 5·rsd slack (vs the 3·rsd
      a statistician would quote) keeps the gate robust on scale
      factors beyond the three it was verified on, while still
      catching any real accuracy regression (which shows up as
      10–100× error, not 1.5×);
    * ``percentile_approx(p, accuracy=10000)`` bracketed by the
      discrete percentiles at p ± 2/accuracy from a 2×-finer sketch:
      the median's rank error is ≤ n/10⁴ while the bound elements sit
      ≥ 1.5·n/10⁴ away from p·n (band 2·n/10⁴, bound sketch error
      ≤ 0.5·n/10⁴), so lo ≤ a_med ≤ hi is guaranteed by the rank-error
      contracts alone — no interpolation, no full-accuracy sketch (a
      1e6-accuracy bound sketch was measured at 10 s; this is ~1.5 s).

    Scale note: the exact distinct counts exist only to audit the
    sketch and run at gate scale; at 100 TB only the sketch columns
    survive — that is the point of sketching."""
    cat = Catalog(spark, sf_dir)
    li = cat["lineitem"]
    acc = 10_000
    eps = 2.0 / acc
    # exact DISTINCTs and sketches in SEPARATE aggregations, joined on
    # the (tiny) group key: one combined agg mixes Expand-based distinct
    # rewriting with object-hash sketch buffers, which forces a
    # SortAggregate fallback over the tripled Expand rows (measured 8 s
    # vs ~2 s split at sf0.1)
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
    )
    sk = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_suppkey", rsd=0.02).alias("a_supp"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("a_part"),
        F.percentile_approx("l_extendedprice", 0.5, acc).alias("a_med"),
        F.percentile_approx("l_extendedprice", 0.5 - eps, 2 * acc).alias("lo"),
        F.percentile_approx("l_extendedprice", 0.5 + eps, 2 * acc).alias("hi"),
    )
    g = exact.join(F.broadcast(sk), on="l_returnflag")

    return g.select(
        "l_returnflag",
        "n_supp",
        "n_part",
        (F.abs(F.col("a_supp") - F.col("n_supp"))
         <= F.greatest(F.lit(1.0), F.lit(0.10) * F.col("n_supp"))).alias("supp_ok"),
        (F.abs(F.col("a_part") - F.col("n_part"))
         <= F.greatest(F.lit(1.0), F.lit(0.10) * F.col("n_part"))).alias("part_ok"),
        ((F.col("a_med") >= F.col("lo")) & (F.col("a_med") <= F.col("hi"))).alias(
            "median_ok"
        ),
    )


_BLOOM_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # let the tiny gate-scale build side qualify; production keeps the
    # default thresholds and lets the optimizer decide
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    # force a shuffle join so the runtime filter has a scan to protect
    # (a broadcast join already prunes the probe side by definition)
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


_SQL_RUNTIME_BLOOM = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_items,
       round(sum(l_extendedprice), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY l_returnflag
"""


@register("join_runtime_bloom", oracle=_SQL_RUNTIME_BLOOM)
def q_join_runtime_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join: Spark injects a ``bloom_filter_agg``
    built from the selective build side (urgent orders) into the probe
    side's scan, so lineitem rows whose key cannot match are dropped AT
    THE SCAN, before the shuffle — the core 100 TB scan-reduction
    mechanism for selective fact-to-fact joins where neither side
    broadcasts.  Results are exactly a plain join (the filter only
    skips provably-unmatchable rows); the oracle is that plain join.

    The aggregate is materialized inside the conf window (try/finally
    restores every touched conf) because runtime-filter injection
    happens at optimization time; ``tests/test_operators.py`` asserts
    the bloom aggregate is actually present in the executed plan."""
    from rdbms_subsetter_spark.session import conf_window

    cat = Catalog(spark, sf_dir)
    with conf_window(spark, _BLOOM_CONFS):
        o = cat["orders"].where(F.col("o_orderpriority") == "1-URGENT").select(
            "o_orderkey"
        )
        li = cat["lineitem"].select("l_orderkey", "l_returnflag", "l_extendedprice")
        j = (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
            )
        )
        rows = j.collect()
    return spark.createDataFrame(rows, j.schema)


# ---------------------------------------------------------------------------
# Spark 4 SQL-surface entries: parameterized SQL, IDENTIFIER, session
# variables, lateral column aliases, EXECUTE IMMEDIATE
# ---------------------------------------------------------------------------


def _scoped_view(spark: SparkSession, df, base: str, sf_dir: str) -> str:
    """Uniquely-named temp view, dropped by callers in a finally block —
    never register catalog table names (session-global shadowing).  The
    suffix is process-stable (see ``session.stable_suffix``)."""
    from rdbms_subsetter_spark.session import stable_suffix

    name = f"__{base}_{stable_suffix(sf_dir)}"
    df.createOrReplaceTempView(name)
    return name


_SQL_PARAMETERIZED = """
SELECT o_orderpriority, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders
WHERE o_orderstatus = 'F' AND o_totalprice > 50000.0
GROUP BY o_orderpriority
"""


@register("sql_parameterized", oracle=_SQL_PARAMETERIZED)
def q_sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL (`spark.sql(..., args={...})`): parameter
    binding happens in the parser (literals in the plan, no string
    interpolation / injection surface), so the bound plan is identical
    to the literal query — pushdown and partial aggs included."""
    cat = Catalog(spark, sf_dir)
    view = _scoped_view(spark, cat["orders"], "param_orders", sf_dir)
    try:
        return spark.sql(
            f"""
            SELECT o_orderpriority, count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS total_price
            FROM {view}
            WHERE o_orderstatus = :status AND o_totalprice > :floor
            GROUP BY o_orderpriority
            """,
            args={"status": "F", "floor": 50000.0},
        )
    finally:
        spark.catalog.dropTempView(view)


_SQL_IDENTIFIER = """
SELECT c_mktsegment, count(*) AS n_cust,
       round(avg(c_acctbal), 4) AS avg_bal
FROM customer
GROUP BY c_mktsegment
"""


@register("sql_identifier_clause", oracle=_SQL_IDENTIFIER)
def q_sql_identifier_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDENTIFIER(:param) — dynamic table/column references that stay
    injection-safe (the parameter is resolved as an identifier, not
    spliced as text).  The templated-pipeline primitive: one parameter-
    ized statement serves N tables."""
    cat = Catalog(spark, sf_dir)
    view = _scoped_view(spark, cat["customer"], "ident_customer", sf_dir)
    try:
        return spark.sql(
            """
            SELECT c_mktsegment, count(*) AS n_cust,
                   round(avg(IDENTIFIER(:balcol)), 4) AS avg_bal
            FROM IDENTIFIER(:tbl)
            GROUP BY c_mktsegment
            """,
            args={"tbl": view, "balcol": "c_acctbal"},
        )
    finally:
        spark.catalog.dropTempView(view)


_SQL_SESSION_VARIABLES = """
WITH cut AS (SELECT avg(o_totalprice) AS c FROM orders)
SELECT o_orderstatus, count(*) AS n_above,
       round(min(o_totalprice) - (SELECT c FROM cut), 2) AS min_gap
FROM orders
WHERE o_totalprice > (SELECT c FROM cut)
GROUP BY o_orderstatus
"""


@register("sql_session_variables", oracle=_SQL_SESSION_VARIABLES)
def q_sql_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session variables (DECLARE / SET VARIABLE): procedural-script
    state without a driver round-trip per use.  The variable is set from
    a scalar query (the mean order price) and read by the main query —
    the two statements share state through the session, exactly how a
    parameter-sweep script threads thresholds."""
    cat = Catalog(spark, sf_dir)
    view = _scoped_view(spark, cat["orders"], "var_orders", sf_dir)
    try:
        spark.sql("DECLARE OR REPLACE VARIABLE rss_price_cut DOUBLE")
        spark.sql(
            f"SET VARIABLE rss_price_cut = (SELECT avg(o_totalprice) FROM {view})"
        )
        return spark.sql(
            f"""
            SELECT o_orderstatus,
                   count(*) AS n_above,
                   round(min(o_totalprice) - rss_price_cut, 2) AS min_gap
            FROM {view}
            WHERE o_totalprice > rss_price_cut
            GROUP BY o_orderstatus
            """
        )
    finally:
        spark.catalog.dropTempView(view)
        spark.sql("DROP TEMPORARY VARIABLE IF EXISTS rss_price_cut")


_SQL_LATERAL_ALIAS = """
SELECT l_returnflag,
       round(sum(l_extendedprice), 2) AS gross,
       round(round(sum(l_extendedprice), 2) * 0.9, 2) AS after_fee,
       round(round(round(sum(l_extendedprice), 2) * 0.9, 2)
             - sum(l_extendedprice * l_discount), 2) AS net_estimate
FROM lineitem
GROUP BY l_returnflag
"""


@register("sql_lateral_alias", oracle=_SQL_LATERAL_ALIAS)
def q_sql_lateral_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral column aliases: later SELECT items reference earlier
    ones (`a AS x, x*2 AS y`) — the derived-metric chain without a
    nested subquery per step.  Catalyst inlines the chain; the plan is
    identical to the fully-expanded projection the oracle spells out."""
    cat = Catalog(spark, sf_dir)
    view = _scoped_view(spark, cat["lineitem"], "lca_lineitem", sf_dir)
    try:
        return spark.sql(
            f"""
            SELECT l_returnflag,
                   round(sum(l_extendedprice), 2) AS gross,
                   round(gross * 0.9, 2) AS after_fee,
                   round(after_fee - sum(l_extendedprice * l_discount), 2)
                     AS net_estimate
            FROM {view}
            GROUP BY l_returnflag
            """
        )
    finally:
        spark.catalog.dropTempView(view)


_SQL_EXECUTE_IMMEDIATE = """
SELECT s_nationkey, count(*) AS n_supp,
       round(sum(s_acctbal), 2) AS sum_bal
FROM supplier WHERE s_acctbal > 0.0
GROUP BY s_nationkey
"""


@register("sql_execute_immediate", oracle=_SQL_EXECUTE_IMMEDIATE)
def q_sql_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE IMMEDIATE with positional USING binds: SQL built as a
    string but bound as parameters (the stored-procedure migration
    path).  Same parser-level binding as :name parameters."""
    cat = Catalog(spark, sf_dir)
    view = _scoped_view(spark, cat["supplier"], "exec_supplier", sf_dir)
    try:
        return spark.sql(
            f"""
            EXECUTE IMMEDIATE
              'SELECT s_nationkey, count(*) AS n_supp,
                      round(sum(s_acctbal), 2) AS sum_bal
               FROM {view} WHERE s_acctbal > ? GROUP BY s_nationkey'
            USING 0.0
            """
        )
    finally:
        spark.catalog.dropTempView(view)


_SQL_NESTED_STRUCT = """
SELECT user_id, n_events, last_event_id, last_value FROM (
  SELECT user_id, event_id AS last_event_id, round(value, 2) AS last_value,
         count(*) OVER (PARTITION BY user_id) AS n_events,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events)
WHERE rn = 1
"""


@register("nested_struct_ops", oracle=_SQL_NESTED_STRUCT)
def q_nested_struct_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-type surface: build array<struct> per user (each event as
    a (ts, value) struct collected in event order), then take each
    user's LAST event by ts via array sort + element_at — nested
    construction, higher-order sort with a struct comparator lambda, and
    dot-path field access, with a flat output for the hash gate.

    Scale shape: one groupBy(user) shuffle; the per-user array is
    bounded by per-user event counts (the sessionization assumption);
    no window, no second shuffle."""
    cat = Catalog(spark, sf_dir)
    ev = cat["events"].select(
        "user_id", F.struct(F.col("ts"), F.col("event_id"), F.col("value")).alias("s")
    )
    arr = ev.groupBy("user_id").agg(F.collect_list("s").alias("evs"))
    last = F.element_at(
        F.array_sort(
            "evs",
            lambda a, b: F.when(a["ts"] < b["ts"], -1)
            .when(a["ts"] > b["ts"], 1)
            .otherwise(
                F.when(a["event_id"] < b["event_id"], -1)
                .when(a["event_id"] > b["event_id"], 1)
                .otherwise(0)
            ),
        ),
        -1,
    )
    return arr.select(
        "user_id",
        F.size("evs").alias("n_events"),
        last["event_id"].alias("last_event_id"),
        F.round(last["value"], 2).alias("last_value"),
    )


_SQL_JSON_STRUCT = """
SELECT event_type, count(*) AS n_events,
       CAST(sum(CAST(props->>'$.k' AS INT)) AS BIGINT) AS sum_k,
       max(CAST(props->>'$.k' AS INT)) AS max_k,
       count(CASE WHEN props->>'$.k' IS NULL THEN 1 END) AS n_null_k
FROM events
GROUP BY event_type
"""


@register("json_struct_parse", oracle=_SQL_JSON_STRUCT)
def q_json_struct_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON parsing: ``from_json`` with an explicit struct schema
    (vs the stringly get_json_object path already covered) — the parse
    happens once per row into a typed column, fields are then plain
    columns for pushdown-friendly expressions.  Malformed documents
    yield NULL fields (PERMISSIVE mode), counted explicitly."""
    cat = Catalog(spark, sf_dir)
    parsed = cat["events"].select(
        "event_type",
        F.from_json(F.col("props"), "k INT").alias("p"),
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("p.k").cast("bigint")).alias("sum_k"),
        F.max("p.k").alias("max_k"),
        F.count(F.when(F.col("p.k").isNull(), 1)).alias("n_null_k"),
    )


_UDTF_K = 3


_SQL_UDTF_DYNAMIC = """
SELECT nullif(split_part(text, ' ', 1), '') AS first_tok,
       count(*) AS n_docs,
       count(nullif(split_part(text, ' ', 3), '')) AS n_full_width
FROM documents
GROUP BY 1
"""


@register("udtf_dynamic_schema", oracle=_SQL_UDTF_DYNAMIC)
def q_udtf_dynamic_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF with a static ``analyze()`` method (Spark 4): the
    OUTPUT SCHEMA is computed from the call's literal argument at plan
    time — here ``split_first_k(3, text)`` resolves to columns
    part_0..part_2 before any data moves.  The dynamic-schema hook is
    what lets one UDTF serve pivots/parsers whose width is a parameter.
    Aggregated per leading token to keep the gate output small."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import StringType, StructField, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    @udtf
    class SplitFirstK:
        @staticmethod
        def analyze(n: AnalyzeArgument, s: AnalyzeArgument) -> AnalyzeResult:
            return AnalyzeResult(
                StructType(
                    [StructField(f"part_{i}", StringType()) for i in range(n.value)]
                )
            )

        def eval(self, n, s):
            # empty tokens (consecutive/leading/trailing spaces) surface
            # as NULL, matching the oracle's nullif(split_part(...), '')
            parts = (s or "").split(" ")
            yield tuple(
                (parts[i] or None) if i < len(parts) else None for i in range(n)
            )

    cat = Catalog(spark, sf_dir)
    view = _scoped_view(spark, cat["documents"], "udtf_docs", sf_dir)
    spark.udtf.register("split_first_k", SplitFirstK)
    try:
        return spark.sql(
            f"""
            SELECT t.part_0 AS first_tok,
                   count(*) AS n_docs,
                   count(t.part_{_UDTF_K - 1}) AS n_full_width
            FROM {view} d, LATERAL split_first_k({_UDTF_K}, d.text) t
            GROUP BY t.part_0
            """
        )
    finally:
        spark.catalog.dropTempView(view)


_SQL_COGROUPED_MERGE = """
WITH e AS (SELECT user_id, count(*) AS n_events,
                  round(sum(value), 2) AS event_value
           FROM events WHERE user_id % 100 = 0 GROUP BY user_id),
o AS (SELECT o_custkey AS user_id, count(*) AS n_orders,
             round(sum(o_totalprice), 2) AS order_value
      FROM orders WHERE o_custkey % 100 = 0 GROUP BY o_custkey)
SELECT coalesce(e.user_id, o.user_id) AS user_id,
       coalesce(n_events, 0) AS n_events,
       coalesce(n_orders, 0) AS n_orders,
       coalesce(event_value, 0.0) AS event_value,
       coalesce(order_value, 0.0) AS order_value
FROM e FULL OUTER JOIN o ON e.user_id = o.user_id
"""


# ---------------------------------------------------------------------------
# Cogrouped applyInPandas + join strategy hints
# ---------------------------------------------------------------------------


@register("udf_cogrouped_merge", oracle=_SQL_COGROUPED_MERGE)
def q_udf_cogrouped_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped ``applyInPandas`` (the one Arrow UDF surface the rest
    of the battery doesn't touch): events and orders cogrouped per
    customer, each pandas function call receiving BOTH groups — the
    escape hatch for per-key logic that needs two tables side by side
    (custom as-of matching, reconciliation).  Here it reconciles event
    activity vs order spend per customer: counts, sums, and the gap
    between last event and last order date, all computed in pandas.

    Scale shape: one cogroup shuffle on the key for each side, Arrow
    batches per key group; the Python function sees only one key's
    slices at a time (bounded memory).  The cogroup API invokes the
    Python function ONCE PER KEY (~4 ms fixed overhead each locally),
    so it is the right tool for hundreds-to-thousands of heavy groups,
    not millions of trivial ones — the graded entry audits a bounded
    deterministic account slice (user_id % 100 = 0), exactly how a
    production reconciliation samples accounts; a full-population
    pass at this group size belongs in plain joins/aggs (see the
    oracle, which IS that formulation)."""
    import pandas as pd

    cat = Catalog(spark, sf_dir)
    ev = cat["events"].where(F.col("user_id") % 100 == 0).select("user_id", "value")
    orders = (
        cat["orders"]
        .where(F.col("o_custkey") % 100 == 0)
        .select(F.col("o_custkey").alias("user_id"), "o_totalprice")
    )

    def merge(key, ev_pdf: pd.DataFrame, ord_pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [len(ev_pdf)],
                "n_orders": [len(ord_pdf)],
                "event_value": [round(float(ev_pdf["value"].sum()), 2)],
                "order_value": [round(float(ord_pdf["o_totalprice"].sum()), 2)],
            }
        )

    return (
        ev.groupBy("user_id")
        .cogroup(orders.groupBy("user_id"))
        .applyInPandas(
            merge,
            schema="user_id long, n_events long, n_orders long, "
            "event_value double, order_value double",
        )
    )


_SQL_JOIN_HINTS = """
WITH agg AS (
  SELECT c_nationkey, count(*) AS n_orders,
         round(sum(o_totalprice), 2) AS total_price
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_nationkey)
SELECT 'sort_merge' AS strategy, c_nationkey, n_orders, total_price FROM agg
UNION ALL
SELECT 'shuffle_hash', c_nationkey, n_orders, total_price FROM agg
"""


@register("join_strategy_hints", oracle=_SQL_JOIN_HINTS)
def q_join_strategy_hints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join strategy hints: the SAME equi-join executed once with a
    MERGE (sort-merge) hint and once with a SHUFFLE_HASH hint, results
    unioned with a strategy tag — identical rows from both, proving the
    hint changes the physical strategy, never the semantics.  The hint
    API is how a user overrides AQE when they know better (e.g. forcing
    shuffle-hash when one side is pre-sorted output the optimizer can't
    see); plan-shape tests assert each hint actually took effect."""
    cat = Catalog(spark, sf_dir)
    cust = cat["customer"].select("c_custkey", "c_nationkey")
    orders = cat["orders"].select("o_custkey", "o_totalprice")

    def joined(hint: str, tag: str):
        return (
            orders.join(cust.hint(hint), orders["o_custkey"] == cust["c_custkey"])
            .groupBy("c_nationkey")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            )
            .select(F.lit(tag).alias("strategy"), "c_nationkey", "n_orders", "total_price")
        )

    return joined("merge", "sort_merge").unionByName(
        joined("shuffle_hash", "shuffle_hash")
    )


_SQL_BITMAP_DISTINCT = """
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS n_distinct_parts
FROM lineitem
GROUP BY l_returnflag
"""


@register("agg_bitmap_distinct", oracle=_SQL_BITMAP_DISTINCT)
def q_agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counting via BITMAP aggregates (Spark 3.5+):
    values map to (bucket, bit-position), per-bucket bitmaps OR-combine
    map-side, and the distinct count is the popcount sum.  THE scalable
    exact-distinct pattern: unlike count(DISTINCT x) — whose partials
    must carry every distinct value through the shuffle — the shuffle
    here carries fixed-size bitmaps per (group, bucket), and bitmaps
    are re-mergeable for rollups (the same property sketches give,
    without the approximation).  Hash-checked against count(DISTINCT)."""
    cat = Catalog(spark, sf_dir)
    li = cat["lineitem"].select(
        "l_returnflag", F.col("l_partkey").alias("v")
    )
    return (
        li.select(
            "l_returnflag",
            F.expr("bitmap_bucket_number(v)").alias("bucket"),
            F.expr("bitmap_bit_position(v)").alias("pos"),
        )
        .groupBy("l_returnflag", "bucket")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
        .groupBy("l_returnflag")
        .agg(F.sum(F.expr("bitmap_count(bm)")).alias("n_distinct_parts"))
    )


_SQL_COLLATIONS = """
WITH mangled AS (
  SELECT CASE WHEN p_partkey % 2 = 0 THEN upper(p_name) ELSE p_name END AS name,
         p_retailprice
  FROM part)
SELECT lower(name) AS name_ci,
       count(DISTINCT name) AS n_variants,
       count(*) AS n_parts,
       round(sum(p_retailprice), 2) AS sum_price
FROM mangled
GROUP BY lower(name)
"""


# ---------------------------------------------------------------------------
# Spark 4 collation surface
# ---------------------------------------------------------------------------


@register("sql_collations", oracle=_SQL_COLLATIONS)
def q_sql_collations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware comparison and grouping (Spark 4 COLLATE): part
    names are deterministically case-mangled (upper for even keys), then
    grouped and equality-filtered under UNICODE_CI — the engine-level
    answer to the lower()-everywhere anti-pattern (collation keeps the
    original strings, applies at comparison time, and pushes into
    joins/aggregates).  The output canonicalizes the group key through
    lower() because the collated representative (which case variant
    survives) is partitioning-dependent — only the grouping SEMANTICS
    are collation's contract."""
    cat = Catalog(spark, sf_dir)
    mangled = cat["part"].select(
        F.when(F.col("p_partkey") % 2 == 0, F.upper("p_name"))
        .otherwise(F.col("p_name"))
        .alias("name"),
        "p_retailprice",
    )
    view = _scoped_view(spark, mangled, "collate_parts", sf_dir)
    try:
        return spark.sql(
            f"""
            SELECT lower(k) AS name_ci,
                   n_variants, n_parts, sum_price
            FROM (
              SELECT collate(name, 'UNICODE_CI') AS k,
                     count(DISTINCT name COLLATE UTF8_BINARY) AS n_variants,
                     count(*) AS n_parts,
                     round(sum(p_retailprice), 2) AS sum_price
              FROM {view}
              GROUP BY collate(name, 'UNICODE_CI')
            )
            """
        )
    finally:
        spark.catalog.dropTempView(view)


_SQL_UNION_MISSING = """
SELECT lang, count(*) AS n_docs,
       count(CASE WHEN doc_id % 2 = 0 THEN 1 END) AS n_with_source,
       count(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS n_with_tier,
       CAST(sum(CASE WHEN doc_id % 2 = 1 AND n_chars > 500 THEN 1
                     WHEN doc_id % 2 = 1 THEN 0 END) AS BIGINT) AS n_high_tier
FROM documents
GROUP BY lang
"""


@register("set_union_missing_cols", oracle=_SQL_UNION_MISSING)
def q_set_union_missing_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-tolerant union: ``unionByName(allowMissingColumns=True)``
    NULL-fills columns absent from either side — the DataFrame-level
    twin of the mergeSchema read (schema_evolution_agg): combining two
    pipeline generations whose schemas drifted, without a migration.
    Here the 'old feed' lacks the quality_tier column and the 'new
    feed' lacks source; the union carries both, NULL where unknown."""
    cat = Catalog(spark, sf_dir)
    docs = cat["documents"]
    old_feed = docs.where(F.col("doc_id") % 2 == 0).select("doc_id", "lang", "source")
    new_feed = (
        docs.where(F.col("doc_id") % 2 == 1)
        .select("doc_id", "lang", (F.col("n_chars") > 500).cast("int").alias("quality_tier"))
    )
    merged = old_feed.unionByName(new_feed, allowMissingColumns=True)
    return merged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count("source").alias("n_with_source"),
        F.count("quality_tier").alias("n_with_tier"),
        F.sum("quality_tier").alias("n_high_tier"),
    )


_SQL_QUALIFY_TOPK = """
SELECT o_orderpriority, o_orderkey, o_totalprice,
       CAST(row_number() OVER (PARTITION BY o_orderpriority
                               ORDER BY o_totalprice DESC,
                                        o_orderkey) AS INT) AS rn
FROM orders
QUALIFY rn <= 3
"""


# ---------------------------------------------------------------------------
# SQL QUALIFY-style per-group top-k
# ---------------------------------------------------------------------------


@register("sql_qualify_topk", oracle=_SQL_QUALIFY_TOPK)
def q_sql_qualify_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALIFY-style per-group top-k — the user-facing SQL surface for
    "filter on a window function without a subquery".

    OSS Spark 4.1.2 does NOT parse the ``QUALIFY`` clause (verified:
    ``PARSE_SYNTAX_ERROR`` at the keyword), so the Spark side runs the
    exact query QUALIFY desugars to — a window + predicate that the
    optimizer rewrites into ``WindowGroupLimit`` (per-partition top-k
    maintained BEFORE the shuffle-side sort, the same physical plan an
    engine with native QUALIFY produces; plan-asserted in
    tests/test_scale_plans.py).  The DuckDB oracle uses the literal
    QUALIFY syntax, so the entry grades the semantic contract of the
    clause across engines.

    Scale shape: WindowGroupLimit keeps ≤ k rows per group per map
    task, so the window sort never sees more than groups × k rows."""
    cat = Catalog(spark, sf_dir)
    view = _scoped_view(spark, cat["orders"], "qualify_orders", sf_dir)
    try:
        return spark.sql(
            f"""
            SELECT o_orderpriority, o_orderkey, o_totalprice, rn
            FROM (
              SELECT o_orderpriority, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_orderpriority
                                        ORDER BY o_totalprice DESC,
                                                 o_orderkey) AS rn
              FROM {view})
            WHERE rn <= 3
            """
        )
    finally:
        spark.catalog.dropTempView(view)


_SQL_JOIN_CARD_SKETCH = """
WITH b AS (SELECT o_orderkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'),
j AS (
  SELECT CAST(count(*) AS BIGINT) AS n_join_exact,
         CAST(count(DISTINCT l.l_orderkey) AS BIGINT) AS n_matched_keys
  FROM lineitem l JOIN b ON l.l_orderkey = b.k)
SELECT j.n_join_exact,
       (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_probe_rows,
       (SELECT CAST(count(*) AS BIGINT) FROM b) AS d_build,
       j.n_matched_keys,
       TRUE AS hll_build_ok, TRUE AS hll_matched_ok, TRUE AS est_rows_ok
FROM j
"""


# ---------------------------------------------------------------------------
# Sketch-based join-cardinality audit
# ---------------------------------------------------------------------------


@register("join_cardinality_sketch", oracle=_SQL_JOIN_CARD_SKETCH)
def q_join_cardinality_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation from sketches, audited against the exact
    count — the optimizer-statistics primitive for planning a 100 TB
    fact-to-fact join WITHOUT running it: three HLL++ sketches (build
    keys, probe keys, union) give the matched-key count by
    inclusion-exclusion (|A∩B| = |A|+|B|−|A∪B|), and the System-R
    uniformity estimate ``rows × matched/distinct`` predicts the join
    output size.  Each sketch is one map-side-combinable aggregate over
    its own scan — nothing is joined to estimate the join.

    Graded like ``agg_sketch_error_bounds``: Spark computes sketch AND
    exact and emits booleans for the error contracts (HLL build count
    within 5%, inclusion-exclusion matched count within 10%, row
    estimate within 20% — measured 0.4%/1.0%/6.7% worst across SFs, so
    the bounds carry ≥3× margin while still failing on any real sketch
    regression); the oracle recomputes the exact values and asserts the
    booleans TRUE.  The exact side exists only to audit the sketch and
    runs at gate scale — at 100 TB only the sketches run (that is the
    point: the estimate costs two scans, the join itself would cost a
    full shuffle)."""
    cat = Catalog(spark, sf_dir)
    o = (
        cat["orders"]
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("k"))
    )
    li = cat["lineitem"].select(F.col("l_orderkey").alias("k"))

    # exact audit side: per-key probe counts joined to the build keys
    # (broadcast — build is the selective side), ONE shuffle on k
    likc = li.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    exact_join = likc.join(F.broadcast(o), "k").agg(
        F.sum("n").cast("long").alias("n_join_exact"),
        F.count(F.lit(1)).cast("long").alias("n_matched_keys"),
    )
    build = o.agg(
        F.count(F.lit(1)).cast("long").alias("d_build"),
        F.approx_count_distinct("k", rsd=0.01).alias("__db_h"),
    )
    probe = li.agg(
        F.count(F.lit(1)).cast("long").alias("n_probe_rows"),
        F.approx_count_distinct("k", rsd=0.01).alias("__dp_h"),
    )
    both = o.unionByName(li).agg(
        F.approx_count_distinct("k", rsd=0.01).alias("__du_h")
    )
    g = exact_join.crossJoin(build).crossJoin(probe).crossJoin(both)
    matched_h = F.col("__db_h") + F.col("__dp_h") - F.col("__du_h")
    est_rows = F.col("n_probe_rows") * matched_h / F.col("__dp_h")
    return g.select(
        "n_join_exact",
        "n_probe_rows",
        "d_build",
        "n_matched_keys",
        (
            F.abs(F.col("__db_h") - F.col("d_build"))
            <= F.greatest(F.lit(5.0), F.lit(0.05) * F.col("d_build"))
        ).alias("hll_build_ok"),
        (
            F.abs(matched_h - F.col("n_matched_keys"))
            <= F.greatest(F.lit(10.0), F.lit(0.10) * F.col("n_matched_keys"))
        ).alias("hll_matched_ok"),
        (
            F.abs(est_rows - F.col("n_join_exact"))
            <= F.lit(0.20) * F.col("n_join_exact")
        ).alias("est_rows_ok"),
    )


# ---------------------------------------------------------------------------
# approx_top_k: the Spark 4 space-saving sketch, graded deterministically
# ---------------------------------------------------------------------------


_TOPK_K = 20
_TOPK_CAPACITY = 1_000_000


_SQL_APPROX_TOP_K = f"""
WITH toks AS (SELECT lang, unnest({_TOKS}) AS token FROM documents),
counts AS (
  SELECT lang, token, CAST(count(*) AS BIGINT) AS freq
  FROM toks GROUP BY 1, 2),
ranked AS (
  SELECT lang, token, freq,
         row_number() OVER (PARTITION BY lang ORDER BY freq DESC, token) AS rn
  FROM counts),
bnd AS (
  SELECT lang, max(CASE WHEN rn = {_TOPK_K} THEN freq END) AS kth
  FROM ranked GROUP BY lang)
SELECT c.lang, c.token, c.freq
FROM counts c JOIN bnd USING (lang)
WHERE c.freq > coalesce(bnd.kth, -1)
"""


@register("agg_approx_top_k", oracle=_SQL_APPROX_TOP_K)
def q_agg_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language heavy-hitter tokens via Spark 4's ``approx_top_k``
    aggregate (space-saving sketch) — the sketch twin of the exact
    ``heavy_hitters_tokens``.

    Two determinism locks make a sketch hash-gradable against an exact
    SQL oracle:

    * ``maxItemsTracked`` (1M) exceeds the token vocabulary, so the
      space-saving counts are EXACT, not estimates;
    * the sketch's k-boundary tie order is arbitrary, so the result is
      cut to items whose count STRICTLY exceeds the k-th count (the
      boundary value itself is tie-order-independent: it is the k-th
      element of the sorted count multiset).  Groups returning fewer
      than k items keep everything (boundary −1).

    At 100 TB the capacity cap makes this the production form: state is
    O(maxItemsTracked) per group regardless of corpus size, merged
    map-side — where the exact groupBy's shuffle carries every distinct
    token.  (Counts then become ±ε estimates; the strict-boundary cut
    stays the right way to consume them.)"""
    from rdbms_subsetter_spark.operators.text import normalize, tokens

    cat = Catalog(spark, sf_dir)
    toks = cat["documents"].select(
        "lang", F.explode(tokens(normalize(F.col("text")))).alias("tok")
    )
    sk = toks.groupBy("lang").agg(
        F.expr(f"approx_top_k(tok, {_TOPK_K}, {_TOPK_CAPACITY})").alias("tk")
    )
    ex = sk.select("lang", F.explode("tk").alias("e")).select(
        "lang",
        F.col("e.item").alias("token"),
        F.col("e.count").cast("long").alias("freq"),
    )
    w = Window.partitionBy("lang")
    return (
        ex.withColumn("n_returned", F.count(F.lit(1)).over(w))
        .withColumn(
            "boundary",
            F.when(F.col("n_returned") >= _TOPK_K, F.min("freq").over(w)).otherwise(
                F.lit(-1)
            ),
        )
        .filter(F.col("freq") > F.col("boundary"))
        .select("lang", "token", "freq")
    )


# ---------------------------------------------------------------------------
# salted running total over a 97%-hot key
# ---------------------------------------------------------------------------


def _hot_key():
    """Deterministic derived skew: ~29/30 of the user ids collapse into
    one 'hot' group (≈97% of event rows), the rest keep per-user keys —
    the adversarial shape for a running aggregate, where one key's rows
    would otherwise serialize through a single window task."""
    return F.when(
        F.col("user_id") % 30 == 0,
        F.concat(F.lit("u"), F.col("user_id").cast("string")),
    ).otherwise(F.lit("hot"))


_SQL_SALTED_RUNNING_TOTAL = """
WITH e AS (
  SELECT event_id, ts,
         CASE WHEN user_id % 30 = 0 THEN 'u' || CAST(user_id AS VARCHAR)
              ELSE 'hot' END AS grp,
         CAST(ROUND(100 * value) AS BIGINT) AS cents
  FROM events)
SELECT event_id, grp, cents,
       CAST(SUM(cents) OVER (PARTITION BY grp ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_cents
FROM e
"""


@register("window_salted_running_total", oracle=_SQL_SALTED_RUNNING_TOTAL)
def q_window_salted_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See partitioning.salted_running_total: range-bucket (by day) two-
    phase distributed prefix sum, result-identical to the plain running
    window (property-asserted in tests/test_round8_property.py).  Money
    as exact cents (BIGINT) — the established ULP-proof oracle form."""
    from rdbms_subsetter_spark.partitioning import salted_running_total

    events = Catalog(spark, sf_dir)["events"]
    base = events.select(
        "event_id",
        "ts",
        _hot_key().alias("grp"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    out = salted_running_total(
        base,
        key_cols=["grp"],
        order_cols=["ts", "event_id"],
        value_col="cents",
        bucket=F.date_trunc("day", F.col("ts")),
        out_col="running_cents",
    )
    return out.select("event_id", "grp", "cents", "running_cents")


_SQL_HLL_ROLLUP = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
       CAST(count(DISTINCT date_trunc('day', ts)) AS BIGINT) AS n_days,
       TRUE AS merged_ok, TRUE AS direct_ok
FROM events
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# re-mergeable HLL sketch rollup (partials merged ≡ direct, within bound)
# ---------------------------------------------------------------------------


@register("agg_hll_rollup", oracle=_SQL_HLL_ROLLUP)
def q_agg_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB hypertable rollup pattern: per-(type, day) Datasketches
    HLL partials (``hll_sketch_agg``, lgK=12 ⇒ rsd ≈ 1.6%) stored once,
    then MERGED upward (``hll_union_agg``) without rescanning raw rows —
    re-mergeable sketch state is what lets a rollup hierarchy answer
    distinct-count questions at any resolution from fixed-size state.

    Graded like agg_sketch_error_bounds: exact answers where both
    engines can compute them (exact distinct users, partial count), and
    error-contract booleans for the sketch estimates — merged-partials
    estimate AND direct single-pass estimate both within 10% (±1) of
    exact, so a regression in the sketch or its merge path breaks the
    hash.  At lgK=12 the estimates are deterministic per input and
    measured within 2% at every SF; only the sketch columns survive at
    scale — exactness here exists to audit them."""
    cat = Catalog(spark, sf_dir)
    ev = cat["events"]
    lgk = 12
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day_ts")
    ).agg(F.hll_sketch_agg("user_id", F.lit(lgk)).alias("sk"))
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk", F.lit(False))).alias("est_merged"),
        F.count(F.lit(1)).alias("n_days"),
    )
    direct = ev.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(lgk))).alias(
            "est_direct"
        ),
        F.countDistinct("user_id").alias("n_exact"),
    )
    g = direct.join(F.broadcast(merged), on="event_type")
    tol = F.greatest(F.lit(1.0), F.lit(0.10) * F.col("n_exact"))
    return g.select(
        "event_type",
        "n_exact",
        "n_days",
        (F.abs(F.col("est_merged") - F.col("n_exact")) <= tol).alias("merged_ok"),
        (F.abs(F.col("est_direct") - F.col("n_exact")) <= tol).alias("direct_ok"),
    )


_SQL_REGRESSION = """
SELECT l_returnflag,
       CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n_pts,
       round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
       round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
       round(regr_r2(l_extendedprice, l_quantity), 4) AS r2,
       round(regr_avgx(l_extendedprice, l_quantity), 4) AS avg_qty,
       round(regr_avgy(l_extendedprice, l_quantity), 4) AS avg_price
FROM lineitem
GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# OLS regression aggregates (regr_* family)
# ---------------------------------------------------------------------------


@register("agg_regression", oracle=_SQL_REGRESSION)
def q_agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregate surface (``regr_slope`` /
    ``regr_intercept`` / ``regr_r2`` / ``regr_count`` / ``regr_avgx`` /
    ``regr_avgy``): one-pass distributed OLS of extended price on
    quantity per return flag — moment sketches (n, Σx, Σy, Σxx, Σxy)
    merge associatively through the shuffle, so the fit costs exactly
    one map-side-combined aggregation at any scale.  ALL columns
    rounded to 4 decimals for cross-engine double parity (the
    agg_stats_moments precedent; r2 was briefly 6 decimals, tightened
    per ADVICE r08 — a last-digit double-accumulation difference
    between engines could flip the 6th decimal at some SF)."""
    cat = Catalog(spark, sf_dir)
    li = cat["lineitem"]
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.regr_count(y, x).alias("n_pts"),
        F.round(F.regr_slope(y, x), 4).alias("slope"),
        F.round(F.regr_intercept(y, x), 4).alias("intercept"),
        F.round(F.regr_r2(y, x), 4).alias("r2"),
        F.round(F.regr_avgx(y, x), 4).alias("avg_qty"),
        F.round(F.regr_avgy(y, x), 4).alias("avg_price"),
    )


#: Fixed sketch width shared by operator and oracle.  32 bins over the
#: global [min, max] of events.value: the state is 32 longs per group —
#: constant-size, associative, re-mergeable through any rollup level.
_QR_BINS = 32
#: Half-bin-width tolerance with a 1e-7 relative guard for the edge
#: case of an order statistic sitting exactly on a bin boundary.
_QR_TOL = 0.5000001


_SQL_QUANTILE_ROLLUP = f"""
WITH vals AS (
  SELECT event_type, date_trunc('day', ts) AS day_ts, value
  FROM events WHERE value IS NOT NULL),
bounds AS (SELECT min(value) AS lo, max(value) AS hi FROM vals),
b AS (
  SELECT event_type, day_ts,
         least({_QR_BINS - 1}, greatest(0,
           CAST(floor((value - lo) * {_QR_BINS} / (hi - lo)) AS INT))) AS bkt
  FROM vals, bounds),
daily AS (
  SELECT event_type, day_ts, bkt, count(*) AS c FROM b GROUP BY 1, 2, 3),
merged AS (
  SELECT event_type, bkt, CAST(sum(c) AS BIGINT) AS c FROM daily GROUP BY 1, 2),
days AS (
  SELECT event_type, CAST(count(DISTINCT day_ts) AS BIGINT) AS n_days
  FROM daily GROUP BY 1),
tot AS (
  SELECT event_type, CAST(sum(c) AS BIGINT) AS n_vals FROM merged GROUP BY 1),
cum AS (
  SELECT event_type, bkt,
         sum(c) OVER (PARTITION BY event_type ORDER BY bkt) AS cum
  FROM merged),
pick AS (
  SELECT c.event_type,
         min(CASE WHEN cum >= CAST(ceil(0.5 * n_vals) AS BIGINT) THEN bkt END) AS b50,
         min(CASE WHEN cum >= CAST(ceil(0.9 * n_vals) AS BIGINT) THEN bkt END) AS b90
  FROM cum c JOIN tot t ON c.event_type = t.event_type
  GROUP BY 1),
ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn
  FROM vals),
exact AS (
  SELECT r.event_type,
         min(CASE WHEN rn = CAST(ceil(0.5 * n_vals) AS BIGINT) THEN value END) AS ex50,
         min(CASE WHEN rn = CAST(ceil(0.9 * n_vals) AS BIGINT) THEN value END) AS ex90
  FROM ranked r JOIN tot t ON r.event_type = t.event_type
  GROUP BY 1)
SELECT p.event_type, n_vals, n_days,
       round(lo + (b50 + 0.5) * (hi - lo) / {_QR_BINS}, 4) AS est_p50,
       round(lo + (b90 + 0.5) * (hi - lo) / {_QR_BINS}, 4) AS est_p90,
       abs((lo + (b50 + 0.5) * (hi - lo) / {_QR_BINS}) - ex50)
         <= (hi - lo) / {_QR_BINS} * {_QR_TOL} AS p50_ok,
       abs((lo + (b90 + 0.5) * (hi - lo) / {_QR_BINS}) - ex90)
         <= (hi - lo) / {_QR_BINS} * {_QR_TOL} AS p90_ok
FROM pick p
JOIN tot USING (event_type)
JOIN days USING (event_type)
JOIN exact USING (event_type), bounds
"""


@register("agg_quantile_rollup", oracle=_SQL_QUANTILE_ROLLUP)
def q_agg_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-mergeable quantile rollup over events.value:

    1. one bounded aggregate fixes the global [lo, hi] domain (two
       driver-free scalars broadcast via a 1-row cross join);
    2. per-(type, day) partials: 32 bin counts (``h0..h31``) — the
       fixed-size sketch state, one map-side-combined aggregation;
    3. per-type rollup merges the partials with 32 column sums — NO
       raw re-scan, the agg_hll_rollup contract for percentiles;
    4. a higher-order ``F.aggregate`` fold over the merged bin array
       finds the first bin whose cumulative count reaches the ANSI
       discrete-quantile rank ``ceil(p·n)`` for p ∈ {0.5, 0.9}; the
       estimate is that bin's midpoint;
    5. audit columns: the exact rank-``ceil(p·n)`` order statistics
       (one per-type window sort — audit-only, like agg_hll_rollup's
       exact countDistinct) and booleans asserting the estimates sit
       within half a bin width of them, which holds by construction
       because the order statistic lies inside the picked bin.

    Both engines evaluate the identical double expressions (same
    association order), so the rounded estimates hash-match exactly."""
    cat = Catalog(spark, sf_dir)
    vals = (
        cat["events"]
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            F.date_trunc("day", F.col("ts")).alias("day_ts"),
            "value",
        )
    )
    bounds = vals.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    b = vals.crossJoin(F.broadcast(bounds)).withColumn(
        "bkt",
        F.least(
            F.lit(_QR_BINS - 1),
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.col("value") - F.col("lo")) * _QR_BINS / (F.col("hi") - F.col("lo"))
                ).cast("int"),
            ),
        ),
    )
    daily = b.groupBy("event_type", "day_ts").agg(
        F.first("lo").alias("lo"),
        F.first("hi").alias("hi"),
        *[
            F.sum((F.col("bkt") == i).cast("long")).alias(f"h{i}")
            for i in range(_QR_BINS)
        ],
    )
    merged = daily.groupBy("event_type").agg(
        F.first("lo").alias("lo"),
        F.first("hi").alias("hi"),
        F.count(F.lit(1)).alias("n_days"),
        *[F.sum(f"h{i}").alias(f"h{i}") for i in range(_QR_BINS)],
    )
    hist = F.array(*[F.col(f"h{i}") for i in range(_QR_BINS)])
    n_vals = sum(F.col(f"h{i}") for i in range(_QR_BINS))
    m = merged.select(
        "event_type",
        "lo",
        "hi",
        "n_days",
        n_vals.alias("n_vals"),
        hist.alias("hist"),
    ).withColumns(
        {
            "r50": F.ceil(0.5 * F.col("n_vals")).cast("long"),
            "r90": F.ceil(0.9 * F.col("n_vals")).cast("long"),
        }
    )
    # fold over the merged sketch: running cumulative count; capture the
    # first bin index reaching each rank (b50/b90 stay -1 until then)
    fold = F.aggregate(
        F.col("hist"),
        F.struct(
            F.lit(0).cast("long").alias("cum"),
            F.lit(-1).alias("b50"),
            F.lit(-1).alias("b90"),
            F.lit(0).alias("i"),
        ),
        lambda acc, x: F.struct(
            (acc.cum + x).alias("cum"),
            F.when((acc.b50 == -1) & (acc.cum + x >= F.col("r50")), acc.i)
            .otherwise(acc.b50)
            .alias("b50"),
            F.when((acc.b90 == -1) & (acc.cum + x >= F.col("r90")), acc.i)
            .otherwise(acc.b90)
            .alias("b90"),
            (acc.i + 1).alias("i"),
        ),
    )
    width = (F.col("hi") - F.col("lo")) / _QR_BINS
    est = m.withColumn("pick", fold).select(
        "event_type",
        "n_vals",
        "n_days",
        "lo",
        "hi",
        "r50",
        "r90",
        (F.col("lo") + (F.col("pick.b50") + 0.5) * width).alias("est_p50"),
        (F.col("lo") + (F.col("pick.b90") + 0.5) * width).alias("est_p90"),
    )
    # audit: exact rank-ceil(p*n) order statistics via one window sort
    w = Window.partitionBy("event_type").orderBy("value")
    ranked = vals.withColumn("rn", F.row_number().over(w))
    exact = (
        ranked.join(
            F.broadcast(est.select("event_type", "r50", "r90")), on="event_type"
        )
        .where((F.col("rn") == F.col("r50")) | (F.col("rn") == F.col("r90")))
        .groupBy("event_type")
        .agg(
            F.min(F.when(F.col("rn") == F.col("r50"), F.col("value"))).alias("ex50"),
            F.min(F.when(F.col("rn") == F.col("r90"), F.col("value"))).alias("ex90"),
        )
    )
    tol = (F.col("hi") - F.col("lo")) / _QR_BINS * _QR_TOL
    return est.join(exact, on="event_type").select(
        "event_type",
        "n_vals",
        "n_days",
        F.round("est_p50", 4).alias("est_p50"),
        F.round("est_p90", 4).alias("est_p90"),
        (F.abs(F.col("est_p50") - F.col("ex50")) <= tol).alias("p50_ok"),
        (F.abs(F.col("est_p90") - F.col("ex90")) <= tol).alias("p90_ok"),
    )
