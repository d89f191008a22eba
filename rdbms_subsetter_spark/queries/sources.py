"""Connectors and file layout: CSV, JSON, ORC, XML, text, Avro and JDBC
round-trips, ``binaryFile`` and multimodal media columns, custom Python
data sources (batch, streaming, write), partition pruning, schema
evolution, Z-order keys, file-layout and compaction reports, and the
partition-pruned MERGE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from rdbms_subsetter_spark import partitioning
from rdbms_subsetter_spark.catalog import Catalog
from rdbms_subsetter_spark.operators import multimodal
from rdbms_subsetter_spark.queries import register
from rdbms_subsetter_spark.sources import csv_roundtrip, json_roundtrip
from rdbms_subsetter_spark.sources.io import jdbc_roundtrip


@register("multimodal_metadata", oracle="""
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio'
            ELSE 'video' END AS media_type,
       CAST(octet_length(encode(text)) AS INT) AS byte_len,
       sha256(text) AS content_sha256
FROM documents
""")
def q_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata, decode-free (pure JVM expressions)."""
    cat = Catalog(spark, sf_dir)
    return multimodal.media_metadata(multimodal.media_from_documents(cat["documents"]))


@register("multimodal_decode", oracle="""
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio'
            ELSE 'video' END AS media_type,
       CAST(octet_length(encode(text)) AS INT) AS byte_len,
       CAST(octet_length(encode(text)) % 640 + 1 AS INT) AS width,
       CAST(octet_length(encode(text)) % 480 + 1 AS INT) AS height,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 1 WHEN doc_id % 3 = 1 THEN 0 ELSE 24 END AS INT) AS n_frames
FROM documents
""")
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas decode path (deterministic fake decoder,
    real plumbing — the oracle re-derives the fake's arithmetic)."""
    cat = Catalog(spark, sf_dir)
    return multimodal.decode_media(multimodal.media_from_documents(cat["documents"]))


@register("multimodal_frame_sample", oracle="""
SELECT doc_id AS media_id, CAST(unnest(generate_series(0, 23, 8)) AS INT) AS frame_idx
FROM documents WHERE doc_id % 3 = 2
""")
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    decoded = multimodal.decode_media(multimodal.media_from_documents(cat["documents"]))
    return multimodal.frame_sample(decoded, every_n=8)


# ---------------------------------------------------------------------------
# sources: CSV / JSON round-trips
# ---------------------------------------------------------------------------


@register("csv_source_agg", oracle="""
SELECT c_mktsegment,
       count(*) AS n_cust,
       round(sum(c_acctbal), 2) AS sum_bal,
       min(c_custkey) AS min_key,
       max(c_custkey) AS max_key
FROM customer GROUP BY c_mktsegment
""")
def q_csv_source_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer → CSV → read back (explicit schema) → aggregate; the
    oracle reads the original parquet, so any text-round-trip loss or
    schema drift breaks the hash."""
    cat = Catalog(spark, sf_dir)
    rt = csv_roundtrip(cat["customer"], tag=f"{sf_dir}/customer")
    return rt.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.round(F.sum("c_acctbal"), 2).alias("sum_bal"),
        F.min("c_custkey").alias("min_key"),
        F.max("c_custkey").alias("max_key"),
    )


@register("json_source_agg", oracle="""
SELECT event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value,
       min(ts) AS first_ts,
       max(ts) AS last_ts
FROM events GROUP BY event_type
""")
def q_json_source_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events (timestamps included) → JSON lines → read back → aggregate."""
    cat = Catalog(spark, sf_dir)
    ev = cat["events"].select("event_id", "ts", "user_id", "event_type", "value")
    rt = json_roundtrip(ev, tag=f"{sf_dir}/events")
    return rt.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


@register("multimodal_resize", oracle="""
WITH d AS (
  SELECT doc_id AS media_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS media_type,
         CAST(octet_length(encode(text)) % 640 + 1 AS INT) AS width,
         CAST(octet_length(encode(text)) % 480 + 1 AS INT) AS height
  FROM documents)
SELECT media_id, media_type, width, height,
       CAST(greatest(floor(width * least(224.0 / width, 224.0 / height, 1.0)), 1) AS INT) AS resized_w,
       CAST(greatest(floor(height * least(224.0 / width, 224.0 / height, 1.0)), 1) AS INT) AS resized_h
FROM d
""")
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass decode+resize geometry via mapInPandas."""
    cat = Catalog(spark, sf_dir)
    return multimodal.decode_and_resize(
        multimodal.media_from_documents(cat["documents"]), 224, 224
    )


@register("multimodal_features", oracle=f"""
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio'
            ELSE 'video' END AS media_type,
       array_to_string([{", ".join(
           f"CAST(round(round(CAST(('0x' || substr(md5(text), {2 * j + 1}, 2)) AS INT) / 255.0, 6) * 1000000) AS BIGINT)"
           for j in range(8)
       )}], ',') AS features
FROM documents
""")
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction (md5-derived stub embedding).

    The feature vector is serialized as micro-scaled-int CSV at the
    query boundary (values are rounded to 6 dp upstream, so ×1e6 is an
    exact integer in both engines; the driver canonicalizer cannot hash
    list cells)."""
    cat = Catalog(spark, sf_dir)
    feats = multimodal.extract_features(multimodal.media_from_documents(cat["documents"]))
    return feats.withColumn(
        "features",
        F.array_join(
            F.transform(
                "features",
                lambda x: F.round(x * 1_000_000).cast("bigint").cast("string"),
            ),
            ",",
        ),
    )


# ---------------------------------------------------------------------------
# sources: directory-partitioned parquet + partition pruning
# ---------------------------------------------------------------------------


@register("partitioned_source_prune", oracle="""
SELECT lang, source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents WHERE lang IN ('en', 'de')
GROUP BY lang, source
""")
def q_partitioned_source_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → parquet partitioned by lang → read back filtered to
    two languages.  The filter prunes partition DIRECTORIES at planning
    time (plan shows PartitionFilters, scan reads 2/5 of the files) —
    the layout that keeps selective scans O(selected) at 100 TB.
    Pruning shape asserted in tests/test_scale_plans.py."""
    from rdbms_subsetter_spark.sources.io import partitioned_roundtrip

    cat = Catalog(spark, sf_dir)
    rt = partitioned_roundtrip(cat["documents"], "lang", tag=f"{sf_dir}/documents")
    return (
        rt.filter(F.col("lang").isin("en", "de"))
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


@register("orc_source_agg", oracle="""
SELECT o_orderstatus,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS sum_price,
       min(o_orderdate) AS first_date,
       max(o_orderdate) AS last_date
FROM orders GROUP BY o_orderstatus
""")
def q_orc_source_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → ORC → read back → aggregate; the oracle reads the
    original parquet, so any columnar-format round-trip loss breaks
    the hash."""
    from rdbms_subsetter_spark.sources.io import orc_roundtrip

    cat = Catalog(spark, sf_dir)
    rt = orc_roundtrip(cat["orders"], tag=f"{sf_dir}/orders")
    return rt.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.min("o_orderdate").alias("first_date"),
        F.max("o_orderdate").alias("last_date"),
    )


# ---------------------------------------------------------------------------
# source connectors: XML, binaryFile, custom Python DataSource
# ---------------------------------------------------------------------------


@register("xml_source_agg", oracle="""
SELECT p_brand,
       count(*) AS n_parts,
       round(sum(p_retailprice), 2) AS sum_price,
       min(p_partkey) AS min_key,
       max(p_partkey) AS max_key
FROM part GROUP BY p_brand
""")
def q_xml_source_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part → XML (Spark 4 native XML source) → read back (explicit
    schema) → aggregate; the oracle reads the original parquet, so any
    markup round-trip loss or schema drift breaks the hash."""
    from rdbms_subsetter_spark.sources.io import xml_roundtrip

    cat = Catalog(spark, sf_dir)
    rt = xml_roundtrip(cat["part"], tag=f"{sf_dir}/part")
    return rt.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.round(F.sum("p_retailprice"), 2).alias("sum_price"),
        F.min("p_partkey").alias("min_key"),
        F.max("p_partkey").alias("max_key"),
    )


@register("binaryfile_source", oracle="""
SELECT doc_id,
       strlen(text) AS n_bytes,
       md5(text) AS content_md5
FROM documents WHERE doc_id < 64
""")
def q_binaryfile_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-object ingestion via the ``binaryFile`` source — how an
    image/audio corpus enters the engine at scale (one row per object:
    path/length/content).  Documents are materialized as .bin files,
    scanned back distributed, and fingerprinted (md5 + byte length)
    JVM-side; the oracle recomputes both from the original text column."""
    from rdbms_subsetter_spark.sources.io import binary_doc_fixture

    cat = Catalog(spark, sf_dir)
    d = binary_doc_fixture(cat["documents"], tag=f"{sf_dir}/documents")
    return spark.read.format("binaryFile").load(d).select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin", 1)
        .cast("long")
        .alias("doc_id"),
        F.length("content").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


@register("pysource_generate", oracle="""
SELECT CAST(id // 1000 AS INT) AS part,
       count(*) AS n,
       round(sum((id * 7 % 1000) / 8.0), 2) AS sum_val,
       min(id) AS min_id,
       max(id) AS max_id
FROM (SELECT range AS id FROM range(0, 8000))
GROUP BY 1
""")
def q_pysource_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource (Spark 4 ``pyspark.sql.datasource``):
    partition-parallel deterministic generator — 8 partitions × 1000
    rows produced executor-side (no driver materialization), then a
    per-partition aggregate.  The value formula is pure integer/IEEE
    (multiples of 1/8), so sums are exact and order-independent and the
    DuckDB oracle reproduces them from generate_series bit-exactly."""
    from rdbms_subsetter_spark.sources.pysource import RangeGenDataSource

    # re-registration is a plain overwrite in PySpark 4 (verified: no
    # exception on double register), so no guard is needed
    spark.dataSource.register(RangeGenDataSource)
    df = (
        spark.read.format("rangegen")
        .option("partitions", 8)
        .option("rowsPerPartition", 1000)
        .load()
    )
    return df.groupBy("part").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("val"), 2).alias("sum_val"),
        F.min("id").alias("min_id"),
        F.max("id").alias("max_id"),
    )


_SQL_TEXT_SOURCE = """
SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       min(doc_id) AS min_id, max(doc_id) AS max_id
FROM documents
GROUP BY lang
"""


@register("text_source_agg", oracle=_SQL_TEXT_SOURCE)
def q_text_source_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw line-oriented text connector: documents serialized as
    tab-delimited lines via ``write.text``, read back with
    ``spark.read.text`` and re-split into columns — the on-ramp for
    log-shaped corpora where schema is applied after the fact.  The
    oracle reads the original parquet, so any line-splitting or
    round-trip loss breaks the hash."""
    from rdbms_subsetter_spark.sources.io import text_roundtrip

    cat = Catalog(spark, sf_dir)
    rt = text_roundtrip(
        cat["documents"], ["doc_id", "lang", "n_chars"], tag=f"{sf_dir}/documents"
    )
    return rt.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_chars").cast("long")).alias("sum_chars"),
        F.min(F.col("doc_id").cast("long")).alias("min_id"),
        F.max(F.col("doc_id").cast("long")).alias("max_id"),
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) clustering key
# ---------------------------------------------------------------------------

_Z_BITS = 12


def _z_terms_sql(xs: str, ys: str, bits: int) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((({xs} >> {i}) % 2) * {1 << (2 * i)})")
        terms.append(f"((({ys} >> {i}) % 2) * {1 << (2 * i + 1)})")
    return " + ".join(terms)


_SQL_ZORDER_CLUSTER = f"""
WITH b AS (
  SELECT o_orderkey,
         o_custkey % {1 << _Z_BITS} AS zx,
         date_diff('day', DATE '1992-01-01', o_orderdate) % {1 << _Z_BITS} AS zy
  FROM orders)
SELECT o_orderkey,
       CAST(zx AS INT) AS zx,
       CAST(zy AS INT) AS zy,
       CAST({_z_terms_sql('zx', 'zy', _Z_BITS)} AS BIGINT) AS z_val,
       CAST(({_z_terms_sql('zx', 'zy', _Z_BITS)}) // 65536 AS INT) AS z_bucket
FROM b
"""


@register("zorder_cluster", oracle=_SQL_ZORDER_CLUSTER)
def q_zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton-interleaved layout key over (customer, order-age) for
    orders — the sort key a Delta/Iceberg OPTIMIZE ZORDER writes by.
    Exact per-row z-values are graded (pure bitwise codegen, identical
    arithmetic in the oracle); the z_bucket prefix is what file-level
    clustering would split on."""
    cat = Catalog(spark, sf_dir)
    x = F.pmod(F.col("o_custkey"), F.lit(1 << _Z_BITS))
    y = F.pmod(
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01")), F.lit(1 << _Z_BITS)
    )
    z = partitioning.z_value(x, y, bits=_Z_BITS)
    return cat["orders"].select(
        "o_orderkey",
        x.cast("int").alias("zx"),
        y.cast("int").alias("zy"),
        z.alias("z_val"),
        F.shiftright(z, 16).cast("int").alias("z_bucket"),
    )


# ---------------------------------------------------------------------------
# File-layout report from scan metadata
# ---------------------------------------------------------------------------

_LAYOUT_TABLES = ["orders", "lineitem", "documents"]


def _layout_sql() -> str:
    # the testdata layout is one parquet file per table named
    # '{table}.parquet', so the oracle derives file_name as a literal
    # and counts through the registered view — no filesystem access
    selects = [
        f"SELECT '{t}' AS table_name, '{t}.parquet' AS file_name, "
        f"count(*) AS n_rows FROM {t}"
        for t in _LAYOUT_TABLES
    ]
    return "\nUNION ALL\n".join(selects)


_SQL_FILE_LAYOUT = _layout_sql()


@register("file_layout_report", oracle=_SQL_FILE_LAYOUT)
def q_file_layout_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files / layout audit: per input parquet file, row count via
    the hidden ``_metadata`` scan column — the report that drives
    compaction planning (a 100 TB table shredded into KB-size files is
    an open-file-handle and scheduler-overhead disaster; target-size
    compaction fixes it).  Columnless scan: only file metadata and the
    grouping key are materialized."""
    cat = Catalog(spark, sf_dir)
    out = None
    for t in _LAYOUT_TABLES:
        df = (
            spark.read.parquet(cat.path(t))
            .select(
                F.lit(t).alias("table_name"),
                F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1).alias(
                    "file_name"
                ),
            )
            .groupBy("table_name", "file_name")
            .agg(F.count(F.lit(1)).alias("n_rows"))
        )
        out = df if out is None else out.unionByName(df)
    return out


_SQL_JDBC_SOURCE = """
SELECT s_nationkey, count(*) AS n_supp,
       round(sum(s_acctbal), 2) AS sum_bal,
       min(s_suppkey) AS min_key, max(s_suppkey) AS max_key
FROM supplier
GROUP BY s_nationkey
"""


# ---------------------------------------------------------------------------
# JDBC source/sink round-trip (embedded Derby — on every Spark classpath)
# ---------------------------------------------------------------------------


@register("jdbc_source_agg", oracle=_SQL_JDBC_SOURCE)
def q_jdbc_source_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier → JDBC sink (batched INSERTs into embedded Derby) →
    range-partitioned JDBC scan (8 splits on the numeric PK) →
    aggregate.  The reference is RDBMS→RDBMS end to end
    (`subsetter.py::Db.__init__`, `create_row_in` insert); this entry
    proves our JDBC path against a REAL SQL engine — Derby ships on
    Spark's classpath, so the sink and the partitioned source both
    execute everywhere Spark runs.  The oracle reads the original
    parquet: any value lost or mangled by the SQL type system breaks
    the hash.

    Scale shape: writes are batched (one round-trip per 10k rows, not
    per row); the read is a partitioned range scan on the PK — the only
    acceptable JDBC-extract shape at scale (a single-connection scan
    serializes the whole table through one socket).
    """
    cat = Catalog(spark, sf_dir)
    sup = cat["supplier"]
    rt = jdbc_roundtrip(
        sup, f"{sf_dir}/supplier", "supplier", partition_column="s_suppkey"
    )
    return rt.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.round(F.sum("s_acctbal"), 2).alias("sum_bal"),
        F.min("s_suppkey").alias("min_key"),
        F.max("s_suppkey").alias("max_key"),
    )


_SQL_PYSOURCE_WRITE = """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum(doc_id) AS BIGINT) AS id_checksum
FROM documents
GROUP BY lang
"""


@register("pysource_write_roundtrip", oracle=_SQL_PYSOURCE_WRITE)
def q_pysource_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITE half of the Spark 4 Python DataSource API (the repo
    already grades the batch- and stream-READ halves): documents are
    written partition-parallel through the ``jsonlsink`` custom sink —
    each task streams its rows to one uniquely-named file and returns a
    commit message; the driver's commit writes a manifest listing
    exactly the committed files — then read back HONORING THE MANIFEST
    and aggregated per language.  Round-trip equality with the source
    table is the graded contract (count + summed chars + id checksum
    per language), so a lost task file, an orphan from a failed task,
    or a miscounted commit all break the hash.

    Scale shape: write is one map-only pass (O(1) memory per task, no
    shuffle — task-commit/job-commit is the same two-phase protocol as
    Spark's built-in file sinks); read-back is a manifest-scoped
    parallel scan; one shuffle for the final small aggregate.

    Reference: `subsetter.py::Db.create_row_in` (its sink is a live
    RDBMS; this is the extension point for sinks Spark has no
    connector for)."""
    import os
    import shutil
    import tempfile

    from rdbms_subsetter_spark.session import stable_suffix
    from rdbms_subsetter_spark.sources.pysource import (
        JsonlSinkDataSource,
        read_jsonl_sink,
    )

    spark.dataSource.register(JsonlSinkDataSource)
    out = os.path.join(
        tempfile.gettempdir(), f"rss_jsonl_{stable_suffix(sf_dir)}"
    )
    shutil.rmtree(out, ignore_errors=True)
    cat = Catalog(spark, sf_dir)
    docs = cat["documents"].select("doc_id", "lang", "n_chars")
    docs.write.format("jsonlsink").option("path", out).mode("append").save()
    back = read_jsonl_sink(spark, out, "doc_id long, lang string, n_chars long")
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("doc_id").alias("id_checksum"),
    )


def _merge_base(cat: Catalog) -> DataFrame:
    """The merge target's base projection — shared by the writer and by
    the read-back (whose explicit schema makes an EMPTY base readable:
    an empty partitioned write leaves no files to infer from)."""
    return cat["customer"].select(
        "c_custkey",
        F.round(F.col("c_acctbal"), 2).alias("balance"),
        F.lit(False).alias("updated"),
        F.col("c_nationkey").alias("nation"),
    )


def merge_partition_pruned_table(spark: SparkSession, sf_dir: str) -> str:
    """Build the partitioned base table and MERGE updates into it via
    DYNAMIC PARTITION OVERWRITE; return the table path.

    This is the plain-parquet answer to ``MERGE INTO`` at 100 TB
    (`subsetter.py` writes row-at-a-time into a live RDBMS; a Delta/
    Iceberg jar is absent from this sandbox — SCALE.md): keep the base
    partitioned on a key-derived column, compute the merged rows for
    ONLY the partitions that contain updated keys, and overwrite in
    ``partitionOverwriteMode=dynamic`` so untouched partition
    directories are never read OR rewritten.  Write cost is
    ∝ touched partitions, not table size — vs the full snapshot
    rewrite of ``merge_upsert_latest``.

    Determinism: step 1 rewrites the whole base in static mode, so
    every run starts from the same snapshot; the merge source is the
    original catalog table, never the scratch dir being overwritten
    (Spark refuses to overwrite a path it is reading from).
    ``tests/test_operators.py`` asserts the pruning for real: files of
    an untouched partition are byte-identical after the merge.
    """
    import os
    import tempfile

    from rdbms_subsetter_spark.session import conf_window, stable_suffix

    cat = Catalog(spark, sf_dir)
    out = os.path.join(tempfile.gettempdir(), f"rss_merge_{stable_suffix(sf_dir)}")
    base = _merge_base(cat)
    base.write.mode("overwrite").partitionBy("nation").parquet(out)

    latest = (
        cat["events"]
        .where(F.col("value").isNotNull())
        .groupBy(F.col("user_id").alias("c_custkey"))
        .agg(
            F.round(
                F.max_by(F.col("value"), F.struct(F.col("ts"), F.col("event_id"))), 2
            ).alias("new_bal")
        )
    )
    nations = cat["customer"].select("c_custkey", F.col("c_nationkey").alias("nation"))
    upd = latest.join(nations, on="c_custkey").where(F.col("nation") < 5)
    # the TOUCHED partition set, derived from the updates themselves: a
    # nation < 5 partition with no updated keys must not be rewritten
    # (the semi-join keeps the claim "write cost ∝ touched partitions"
    # literally true; dynamic overwrite only replaces directories that
    # receive rows, so filtering the merge output is all it takes)
    touched = upd.select("nation").distinct()
    merged = (
        cat["customer"]
        .where(F.col("c_nationkey") < 5)
        .join(F.broadcast(touched),
              cat["customer"]["c_nationkey"] == touched["nation"], "leftsemi")
        .select(
            "c_custkey",
            F.round(F.col("c_acctbal"), 2).alias("balance"),
            F.col("c_nationkey").alias("nation"),
        )
        .join(F.broadcast(upd.select("c_custkey", "new_bal")), on="c_custkey", how="left")
        .select(
            "c_custkey",
            F.coalesce("new_bal", "balance").alias("balance"),
            F.col("new_bal").isNotNull().alias("updated"),
            "nation",
        )
    )
    with conf_window(
        spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}
    ):
        merged.write.mode("overwrite").partitionBy("nation").parquet(out)
    return out


_SQL_MERGE_PARTITION_PRUNED = """
WITH latest AS (
    SELECT c_custkey, new_bal FROM (
        SELECT user_id AS c_custkey, ROUND(value, 2) AS new_bal,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE value IS NOT NULL) WHERE rn = 1
)
SELECT c.c_nationkey AS nation,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN u.c_custkey IS NOT NULL AND c.c_nationkey < 5
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
       CAST(sum(CAST(ROUND(100 * (CASE WHEN u.c_custkey IS NOT NULL
                                        AND c.c_nationkey < 5
                                       THEN u.new_bal
                                       ELSE ROUND(c.c_acctbal, 2) END))
                AS BIGINT)) AS BIGINT) AS balance_cents
FROM customer c LEFT JOIN latest u ON c.c_custkey = u.c_custkey
GROUP BY c.c_nationkey
"""


@register("merge_partition_pruned", oracle=_SQL_MERGE_PARTITION_PRUNED)
def q_merge_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE via dynamic partition overwrite (see
    merge_partition_pruned_table), graded as the per-nation audit of the
    merged table: row count, rows updated, exact balance total in cents
    (integer sum — immune to float summation order)."""
    out = merge_partition_pruned_table(spark, sf_dir)
    tbl = spark.read.schema(_merge_base(Catalog(spark, sf_dir)).schema).parquet(out)
    return tbl.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("updated").cast("long")).alias("n_updated"),
        F.sum(F.round(F.col("balance") * 100).cast("long")).alias("balance_cents"),
    )


_SQL_PYSOURCE_STREAM = """
SELECT CAST(id // 1000 AS INT) AS part,
       count(*) AS n,
       round(sum((id * 7 % 1000) / 8.0), 2) AS sum_val,
       min(id) AS min_id,
       max(id) AS max_id
FROM (SELECT range AS id FROM range(0, 5000))
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Streaming custom Python DataSource (Spark 4 simpleStreamReader)
# ---------------------------------------------------------------------------


@register("pysource_stream_agg", oracle=_SQL_PYSOURCE_STREAM)
def q_pysource_stream_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python STREAMING source (Spark 4 ``simpleStreamReader``):
    the deterministic generator replayed as micro-batches (2500 rows per
    trigger until 5000 — two genuine micro-batches; each batch costs
    ~1 s of fixed micro-batch machinery locally, so batch count, not row
    count, is the bench knob), complete-mode per-part aggregate over the
    bounded stream.  The offset log is plain dicts and
    ``readBetweenOffsets`` regenerates identical rows, so the replay
    equals the batch generator over [0, 5000) and the DuckDB
    generate_series oracle reproduces it bit-exactly (pure-IEEE value
    formula, multiples of 1/8)."""
    from rdbms_subsetter_spark.sources.pysource import RangeGenDataSource
    from rdbms_subsetter_spark.streaming.events import run_stream_to_memory

    # re-registration is a plain overwrite in PySpark 4 (verified: no
    # exception on double register), so no guard is needed
    spark.dataSource.register(RangeGenDataSource)
    stream = (
        spark.readStream.format("rangegen")
        .option("rowsPerBatch", 2500)
        .option("maxRows", 5000)
        .option("rowsPerPartition", 1000)
        .load()
    )
    agg = stream.groupBy("part").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("val"), 2).alias("sum_val"),
        F.min("id").alias("min_id"),
        F.max("id").alias("max_id"),
    )
    # 5 groups of state: 2 partitions, same sizing rule as the other
    # small-state replays
    return run_stream_to_memory(
        spark,
        agg,
        name="pysource_stream_agg",
        output_mode="complete",
        state_partitions=2,
    )


_SQL_SCHEMA_EVOLUTION = """
SELECT lang, count(*) AS n_docs,
       count(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS n_with_tier,
       CAST(sum(CASE WHEN doc_id % 2 = 1 AND n_chars > 500 THEN 1
                     WHEN doc_id % 2 = 1 THEN 0 END) AS BIGINT) AS n_high_tier
FROM documents
GROUP BY lang
"""


@register("schema_evolution_agg", oracle=_SQL_SCHEMA_EVOLUTION)
def q_schema_evolution_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: two parquet batches written with DIFFERENT
    schemas (v2 adds a column) are read back as one table with
    ``mergeSchema`` — rows from the old files surface NULL for the new
    column.  The everyday data-lake situation: a pipeline added a field
    mid-stream and history must stay readable.

    Scale note: mergeSchema=true costs a footer read per file at
    planning; production pins the merged schema explicitly (as the
    oracle here effectively does) once it stabilizes."""
    import os
    import tempfile

    from rdbms_subsetter_spark.session import stable_suffix

    cat = Catalog(spark, sf_dir)
    docs = cat["documents"]
    # process-stable digest: reruns reuse one scratch dir instead of
    # accumulating rss_evolve_* per process
    out = os.path.join(
        tempfile.gettempdir(), f"rss_evolve_{stable_suffix(sf_dir)}"
    )
    v1 = docs.where(F.col("doc_id") % 2 == 0).select("doc_id", "lang", "n_chars")
    v2 = (
        docs.where(F.col("doc_id") % 2 == 1)
        .select("doc_id", "lang", "n_chars")
        .withColumn("quality_tier", (F.col("n_chars") > 500).cast("int"))
    )
    v1.write.mode("overwrite").parquet(f"{out}/batch=1")
    v2.write.mode("overwrite").parquet(f"{out}/batch=2")
    merged = spark.read.option("mergeSchema", "true").parquet(f"{out}/batch=1", f"{out}/batch=2")
    return merged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count("quality_tier").alias("n_with_tier"),
        F.sum("quality_tier").alias("n_high_tier"),
    )


_SQL_REAL_ROUNDTRIP = """
SELECT doc_id AS media_id,
       CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'wav' ELSE 'ppm' END AS kind,
       CASE doc_id % 3 WHEN 0 THEN CAST(16 + doc_id % 16 AS INT)
                       WHEN 2 THEN CAST(12 + doc_id % 12 AS INT) END AS width,
       CASE doc_id % 3 WHEN 0 THEN CAST(8 + doc_id % 8 AS INT)
                       WHEN 2 THEN CAST(6 + doc_id % 6 AS INT) END AS height,
       CASE doc_id % 3 WHEN 1 THEN CAST(1000 + doc_id % 500 AS INT) END AS n_samples,
       CASE doc_id % 3 WHEN 1 THEN CAST(8000 AS INT) END AS sample_rate,
       CASE doc_id % 3 WHEN 0 THEN CAST(doc_id % 256 AS DOUBLE)
                       WHEN 2 THEN CAST(doc_id % 256 AS DOUBLE) END AS pixel_mean,
       CASE doc_id % 3 WHEN 1 THEN CAST(doc_id % 1000 AS DOUBLE) END AS audio_rms
FROM documents
"""


# ---------------------------------------------------------------------------
# REAL multimodal decode (pure-stdlib codecs, executes everywhere)
# ---------------------------------------------------------------------------


@register("multimodal_real_roundtrip", oracle=_SQL_REAL_ROUNDTRIP)
def q_multimodal_real_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode, no gate: deterministic PNG/WAV/PPM payloads
    are ENCODED for real (zlib IDAT, RIFF container, P6), then sniffed
    by magic bytes and DECODED for real (inflate + PNG filter
    reconstruction, PCM sample parse) in one Arrow-batched pass; the
    decoded statistics are checked against the closed-form content the
    generator used.  Unlike the PIL-gated path (jpeg/webp — libs absent
    here), this branch executes in any environment, so the decode
    contract is hash-graded, not simulated.

    Scale shape: payload bytes stay columnar; encode and decode are
    each ONE mapInPandas scan; stats computed in the same batch as the
    decode (decode once, stat once)."""
    from rdbms_subsetter_spark.operators import multimodal as mm

    cat = Catalog(spark, sf_dir)
    media = mm.synth_real_media(cat["documents"])
    return mm.real_roundtrip_decode(media)


# ---------------------------------------------------------------------------
# Compaction planning over the real file inventory
# ---------------------------------------------------------------------------

_COMPACT_TARGET = 8000  # rows per output file


def _compaction_sql() -> str:
    return f"""
WITH inv AS ({_layout_sql()})
SELECT table_name, file_name, n_rows,
       CAST(floor(coalesce(sum(n_rows) OVER (
              ORDER BY table_name, file_name
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            / {_COMPACT_TARGET}) AS INT) AS target_bin
FROM inv
"""


@register("compaction_plan", oracle=_compaction_sql())
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction PLAN: the per-file inventory (real
    ``_metadata`` scan, same machinery as file_layout_report) is packed
    into target-size output bins by a greedy running-sum rule — bin =
    floor(rows_before / target) over the (table, file) order.  This is
    the planning half of OPTIMIZE/compaction: the plan says which input
    files coalesce into which output file; the rewrite itself is one
    partitioned write per bin.

    Scale shape: the inventory is one row per FILE (a 100 TB table is
    ~10⁵ files — driver-trivial); the plan is a prefix sum over that
    tiny relation.  The expensive part of real compaction is the
    rewrite, whose cost the plan bounds up front."""
    from pyspark.sql import Window

    inv = q_file_layout_report(spark, sf_dir)
    w = Window.orderBy("table_name", "file_name").rowsBetween(
        Window.unboundedPreceding, -1
    )
    rows_before = F.coalesce(F.sum("n_rows").over(w), F.lit(0))
    return inv.select(
        "table_name",
        "file_name",
        "n_rows",
        F.floor(rows_before / _COMPACT_TARGET).cast("int").alias("target_bin"),
    )


# No external jar: Spark 4.x's bundled spark-sql jar carries the full
# AvroFileFormat even though only the external module registers the
# short name, so ``sources.io.avro_roundtrip`` falls back from the short
# name to the fully-qualified class name and writes real .snappy.avro.
_SQL_AVRO_SOURCE_AGG = """
SELECT o_orderpriority,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS sum_price,
       min(o_orderdate) AS first_date,
       max(o_orderdate) AS last_date
FROM orders GROUP BY o_orderpriority
"""


@register("avro_source_agg", oracle=_SQL_AVRO_SOURCE_AGG)
def q_avro_source_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → Avro → read back → aggregate; the oracle reads the
    original parquet, so any round-trip loss through the Avro
    encoder/decoder (doubles, dates, nulls) breaks the hash.  Avro is
    the row-oriented interchange/wire format (Kafka, schema registry)
    a 100 TB ingest pipeline meets before anything columnar."""
    from rdbms_subsetter_spark.sources.io import avro_roundtrip

    cat = Catalog(spark, sf_dir)
    rt = avro_roundtrip(cat["orders"], tag=f"{sf_dir}/orders")
    return rt.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.min("o_orderdate").alias("first_date"),
        F.max("o_orderdate").alias("last_date"),
    )
