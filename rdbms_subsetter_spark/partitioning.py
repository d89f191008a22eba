"""Partitioning strategies for the 100 TB path: bucketed co-located
joins, partitioned layouts, and salt-based skew handling.

The reference never faces these problems (row-at-a-time over JDBC);
they are the core of making the same semantics hold at cluster scale:

* **bucketing** — write both sides of a recurring equi-join bucketed by
  the join key; Spark then sort-merge-joins bucket-to-bucket with ZERO
  shuffle of either side (verified by plan assertion in
  tests/test_scale_plans.py).  This is how orders⋈lineitem should be
  laid out for a workload that joins them every run.
* **partitioned layout** — directory partitioning by a low-cardinality
  column (plain ``DataFrameWriter.partitionBy``) gives free partition
  pruning for predicates on that column (plan-asserted in
  tests/test_scale_plans.py).
* **salting** — a skewed group/window key (one parent with millions of
  children) serializes into one task.  Salted two-phase top-k bounds
  every task at (k × salt) candidate rows per hot key.  AQE's skew-join
  splitting handles *joins*; windows get no such help, so the salt is
  explicit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F


# ---------------------------------------------------------------------------
# bucketed / partitioned layouts
# ---------------------------------------------------------------------------


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist *df* as a bucketed (+ sorted) managed parquet table.
    Joins/aggregations on ``bucket_cols`` between tables bucketed with
    the same ``n_buckets`` require no shuffle at read time."""
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


# ---------------------------------------------------------------------------
# skew salting
# ---------------------------------------------------------------------------


def salted_topk(
    df: DataFrame,
    partition_cols: list[str],
    order_cols: list[str],
    k: int,
    salt: int = 16,
) -> DataFrame:
    """Per-group top-k that survives heavy key skew.

    Phase 1: each row gets a deterministic salt (hash of the full order
    tuple, NOT random — reproducible), and a local top-k runs per
    (group, salt) slice; a hot key's rows spread over ``salt`` tasks.
    Phase 2: the survivors (≤ k·salt per group) go through the exact
    top-k.  Results are identical to the unsalted window — only the
    plan changes.
    """
    salt_col = F.pmod(F.hash(*[F.col(c) for c in order_cols]), F.lit(salt))
    w_local = Window.partitionBy(*partition_cols, "__salt").orderBy(
        *[F.col(c) for c in order_cols]
    )
    w_final = Window.partitionBy(*partition_cols).orderBy(
        *[F.col(c) for c in order_cols]
    )
    return (
        df.withColumn("__salt", salt_col)
        .withColumn("__rn", F.row_number().over(w_local))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
        .withColumn("__rn", F.row_number().over(w_final))
        .filter(F.col("__rn") <= k)
        .drop("__rn", "__salt")
    )


def salted_agg(
    df: DataFrame,
    group_cols: list[str],
    sum_cols: dict[str, str],
    salt: int = 16,
) -> DataFrame:
    """Two-phase sum/count aggregation under key skew: partial agg on
    (group, salt), final agg on group.  For algebraic aggregates Spark's
    own map-side partials usually suffice; the explicit salt matters when
    the *reduce* side of one key outgrows a task (e.g. exact distinct
    counting downstream).  ``sum_cols`` maps input col -> output alias.
    """
    salted = df.withColumn("__salt", F.pmod(F.monotonically_increasing_id(), F.lit(salt)))
    partial = salted.groupBy(*group_cols, "__salt").agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.sum(c).alias(f"__s_{c}") for c in sum_cols],
    )
    return partial.groupBy(*group_cols).agg(
        F.sum("__n").alias("n_rows"),
        *[F.sum(f"__s_{c}").alias(alias) for c, alias in sum_cols.items()],
    )


def salted_join(
    big: DataFrame,
    medium: DataFrame,
    big_key: str,
    medium_key: str,
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join for big ⋈ medium where the medium side is too
    large to broadcast but cheap to replicate ``salt``×: every big-side
    row gets a salt in [0, salt), the medium side is exploded across ALL
    salt values, and the join key widens to (key, salt) — a hot key's
    rows spread over ``salt`` tasks instead of melting one reducer.

    Only ``inner``/``left``/``left_semi``/``left_anti``/``cross`` are
    accepted: for those the result is identical to the plain join.  For
    ``right``/``full`` the replicated medium side would emit each
    UNMATCHED medium row once per salt value (salt copies with null big
    columns), so those types raise — salt the other way around instead.
    The big side's salt need not be deterministic (any value joins), so
    a cheap id-derived salt is used rather than a row hash.
    """
    safe = {"inner", "left", "leftouter", "left_outer", "left_semi",
            "leftsemi", "semi", "left_anti", "leftanti", "anti", "cross"}
    if how.lower() not in safe:
        raise ValueError(
            f"salted_join: how={how!r} would duplicate unmatched replicated "
            "medium rows (one per salt value); use inner/left/semi/anti, or "
            "swap sides so the preserved side is the salted one"
        )
    salted = big.withColumn(
        "__salt", F.pmod(F.monotonically_increasing_id(), F.lit(salt)).cast("int")
    )
    rep = medium.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    joined = salted.join(
        rep, (salted[big_key] == rep[medium_key]) & (salted["__salt"] == rep["__salt"]), how
    )
    return joined.drop("__salt")


# ---------------------------------------------------------------------------
# data-layout operators: z-order clustering, deterministic sharding
# ---------------------------------------------------------------------------


def z_value(x: "F.Column", y: "F.Column", bits: int = 16) -> "F.Column":
    """Morton (Z-order) interleave of two non-negative ints: bit i of x
    lands at position 2i, bit i of y at 2i+1.

    This is the layout key behind multi-dimensional clustering (Delta
    OPTIMIZE ZORDER BY, Iceberg sort orders): rows sorted by z_value put
    records close in BOTH dimensions into the same files, so range
    predicates on either column prune most files — at 100 TB, writing
    sorted-by-z is a one-time cost that every later selective scan
    repays.  Pure bitwise codegen (shifts/and/or), reproducible in any
    engine; inputs must fit ``bits`` bits (caller masks/buckets first).
    """
    # addition, not |: Column.__or__ is logical OR in Spark, and the
    # shifted terms occupy disjoint bit positions so + IS bitwise-or
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(x.cast("long"), i) % 2, 2 * i)
            + F.shiftleft(F.shiftright(y.cast("long"), i) % 2, 2 * i + 1)
        )
    return z


def shard_assignment(
    df: DataFrame,
    id_col: str,
    n_shards: int = 8,
    seed: int = 42,
    within: list[str] | None = None,
) -> DataFrame:
    """Deterministic pseudorandom shard + position for training-data
    serving: shard = portable_md5(id) mod n_shards, position = rank of
    the hash within the shard.  The permutation is reproducible across
    engines and runs (seeded md5, no RNG state), which is what a
    resumable data loader needs: epoch N's order can be recomputed from
    (seed, ids) alone.

    ``within`` adds extra partition columns to the position window so
    positions are dense per (within..., shard) — e.g. pass ["split"] when
    the frame carries train/valid/test splits and a loader reading only
    one split still needs gap-free positions (ADVICE r02).

    Scale shape: one hash projection + one window sort per shard
    partition — the sort is per-shard (n_shards independent ranges),
    never a global single-task order-by.
    """
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}|"), F.col(id_col).cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    w = Window.partitionBy(*(within or []), "shard").orderBy("sort_key", id_col)
    return (
        df.withColumn("sort_key", h)
        .withColumn("shard", F.pmod(F.col("sort_key"), F.lit(n_shards)).cast("int"))
        .withColumn("position", F.row_number().over(w))
        .drop("sort_key")
    )


def portable_pct(col: Column, seed: int) -> Column:
    """Deterministic [0,100) bucket from a portable md5 hash — identical
    in any engine with md5, so dataset splits and sampling decisions are
    reproducible across engines, clusters, and reruns (no RNG state)."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}|"), col.cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    return F.pmod(h, F.lit(100))


def split_assignment(
    df: DataFrame,
    key_col: str,
    seed: int = 7,
    train_pct: int = 90,
    valid_pct: int = 5,
) -> DataFrame:
    """Add a 'split' column (train/valid/test) from a deterministic hash
    of *key_col*.  Hash the row id for an iid split, or a GROUP key
    (source domain, author) for the leakage-safe variant — every row of
    one group lands in the same split, the standard guard against
    train/test contamination via near-duplicates within a domain.

    Scale shape: a pure projection — zero shuffles; the split column is
    written alongside the data (directory partitioning by split gives
    free pruning to downstream loaders).
    """
    pct = portable_pct(F.col(key_col), seed)
    return df.withColumn(
        "split",
        F.when(pct < train_pct, F.lit("train"))
        .when(pct < train_pct + valid_pct, F.lit("valid"))
        .otherwise(F.lit("test")),
    )


def salted_running_total(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    value_col: str,
    bucket: Column,
    out_col: str = "running_total",
) -> DataFrame:
    """Running (prefix) sum per key that survives heavy key skew —
    result-identical to ``SUM(value) OVER (PARTITION BY key ORDER BY
    order_cols ROWS UNBOUNDED PRECEDING)``.

    Top-k windows are skew-immune in Spark thanks to WindowGroupLimit
    pushdown (measured in the round-6 skew study), but a RUNNING
    aggregate has no such rescue: every row of the hot key flows
    through one task, one sort, one state.  Hash-salting cannot fix it
    either — a prefix sum is order-dependent, and a hash salt scatters
    the order.  The classic distributed prefix-sum shape instead salts
    on a RANGE of the sort axis (``bucket`` must be a monotone function
    of the leading order column, e.g. ``date_trunc('day', ts)``):

    1. local running sums per (key, bucket) — the hot key's rows spread
       over as many tasks as there are buckets;
    2. per-(key, bucket) totals (tiny aggregate: |keys|·|buckets| rows)
       get an EXCLUSIVE prefix over buckets — one window over the
       aggregate, never the raw rows;
    3. broadcast the offsets back and add.

    Bucket-boundary correctness needs ties between buckets impossible:
    a monotone bucket of the leading order column guarantees every row
    of bucket b sorts strictly after all of b-1.  At 100 TB pick the
    bucket so each (hot key, bucket) slice fits a task — day/hour of an
    event-time axis is the production norm.
    """
    w_local = Window.partitionBy(*key_cols, "__bucket").orderBy(
        *[F.col(c) for c in order_cols]
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed = df.withColumn("__bucket", bucket)
    local = bucketed.withColumn("__local", F.sum(F.col(value_col)).over(w_local))
    w_off = (
        Window.partitionBy(*key_cols)
        .orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        bucketed.groupBy(*key_cols, "__bucket")
        .agg(F.sum(F.col(value_col)).alias("__tot"))
        .withColumn("__off", F.coalesce(F.sum("__tot").over(w_off), F.lit(0)))
        .drop("__tot")
    )
    # no forced broadcast: offsets is |keys|·|buckets| rows, which grows
    # with the time axis (buckets) — AQE broadcasts it while it is small
    # and falls back to a shuffle join when a long history outgrows the
    # driver, instead of OOMing (the same contract as the cross-corpus
    # minhash eval side)
    return (
        local.join(offsets, on=[*key_cols, "__bucket"])
        .withColumn(out_col, F.col("__local") + F.col("__off"))
        .drop("__bucket", "__local", "__off")
    )


def closure_bucketed_semi(
    spark: SparkSession, sf_dir: str, n_buckets: int = 16
) -> DataFrame:
    """The FK-closure hot path (sampled orders → pull owned lineitem via
    semi-join) over a PRE-BUCKETED layout, end-to-end: this is how the
    subsetting workload should be laid out on a cluster that runs it
    recurrently, and the bench entry exists to keep the shuffle-free
    property measured, not just plan-asserted in tests.

    One-time per (sf_dir): orders and lineitem are written as managed
    parquet tables bucketed on the join key (o_orderkey / l_orderkey,
    same bucket count).  The query then samples orders with the
    portable hash (a Filter preserves the bucketed output partitioning)
    and semi-joins lineitem against the sample — Catalyst plans a
    SortMergeJoin over the co-bucketed scans with ZERO Exchange, which
    this function ASSERTS on the executed plan before returning (a
    regression to a shuffling plan fails the bench loudly rather than
    silently costing a full lineitem shuffle at every closure pass —
    at 100 TB the difference between re-shuffling the fact table per
    fixpoint iteration and never shuffling it at all).
    """
    from rdbms_subsetter_spark.catalog import Catalog

    import hashlib

    # stable across processes (python str hash is seed-randomized): the
    # bucketed tables are written ONCE per (sf_dir, n_buckets) and
    # reused by every later bench run
    tag = hashlib.md5(f"{sf_dir}|{n_buckets}".encode()).hexdigest()[:10]
    t_orders, t_lineitem = f"bb_orders_{tag}", f"bb_lineitem_{tag}"
    if not spark.catalog.tableExists(t_lineitem):
        # the default session catalog is in-memory: bucket METADATA does
        # not survive the process even though the warehouse directory
        # does (and a path-read parquet loses bucketing entirely), so a
        # fresh process must clear the stale location and rewrite.
        # Within a process the tables are written once and reused.
        import os
        import shutil
        from urllib.parse import urlparse

        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        for t in (t_orders, t_lineitem):
            shutil.rmtree(os.path.join(wh, t), ignore_errors=True)
        cat = Catalog(spark, sf_dir)
        write_bucketed(
            cat["orders"], t_orders, ["o_orderkey"], n_buckets, ["o_orderkey"]
        )
        write_bucketed(
            cat["lineitem"], t_lineitem, ["l_orderkey"], n_buckets, ["l_orderkey"]
        )
    # pin the co-bucketed SortMergeJoin path: at LOCAL scale the planner
    # correctly prefers broadcasting the 5% sample (and disables the
    # bucketed scan with it), but at 100 TB that side is tens of GB and
    # the bucketed zero-shuffle SMJ is the plan this layout exists for —
    # the bench measures THAT plan.  Conf pinned only for this plan's
    # compilation (the conf is read at optimization time).
    from rdbms_subsetter_spark.session import conf_window

    with conf_window(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        orders = spark.table(t_orders)
        lineitem = spark.table(t_lineitem)
        sampled = orders.filter(portable_pct(F.col("o_orderkey"), seed=11) < 5)
        pulled = lineitem.join(
            sampled.select(F.col("o_orderkey").alias("l_orderkey")),
            on="l_orderkey",
            how="left_semi",
        )
        plan = pulled._jdf.queryExecution().executedPlan().toString()
        if "Exchange" in plan:
            raise AssertionError(
                "closure_bucketed_semi: expected a shuffle-free co-bucketed "
                f"semi-join, but the executed plan contains an Exchange:\n{plan}"
            )
        # force materialization inside the conf window so the executed
        # job runs the asserted plan, not a re-optimized one
        pulled = pulled.localCheckpoint(eager=True)
    return pulled
