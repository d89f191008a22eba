"""Round-5 hardening: adversarial-data confirmation for the entries the
round-4 advisor flagged as latent-fragile.  The full 436-test parity
sweep exercises them on the driver's datasets; these tests exercise the
SAME query-vs-oracle comparison on crafted data the testdata generator
never emits (consecutive/leading/trailing spaces, empty and NULL text),
so the `nullif`-parity claims hold by construction, not by luck.
"""

import os
import tempfile

import duckdb
import pytest


ADVERSARIAL_TEXTS = [
    "alpha  beta gamma",        # consecutive spaces -> empty middle token
    " lead tok three four",     # leading space -> empty first token
    "trail two ",               # trailing space -> empty third token
    "",                         # empty string
    None,                       # NULL text
    "one",                      # fewer tokens than K
    "a b",                      # exactly K-1 tokens
    "x y z w",                  # more tokens than K
    "  ",                       # only spaces -> all tokens empty
    "alpha  beta gamma",        # duplicate row: grouping must count 2
]


@pytest.fixture(scope="module")
def adversarial_docs_dir(spark):
    """A documents.parquet with the documents-table schema but
    adversarial text values, in its own sf-style directory."""
    out = os.path.join(tempfile.gettempdir(), "rss_r05_adversarial_docs")
    rows = [
        (i, t, "en", "synthetic", len(t) if t is not None else 0)
        for i, t in enumerate(ADVERSARIAL_TEXTS)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )
    return out


def _duckdb_oracle(sql: str, sf_dir: str):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{os.path.join(sf_dir, 'documents.parquet', '*.parquet')}'"
    )
    return con.execute(sql).fetchall()


def _canon(rows):
    return sorted(
        (tuple(r) for r in rows),
        key=lambda t: tuple((v is None, v) for v in t),
    )


def test_lakehouse_merge_probe_and_fallback(spark):
    """The Delta capability probe is honest in this sandbox (no jar ->
    False) and merge_upsert_auto therefore takes the dynamic-overwrite
    fallback, whose audit aggregate is identical to the graded
    merge_partition_pruned entry — so adding the one jar upgrades the
    engine without changing any result."""
    from tests.conftest import SF_SMALL

    from rdbms_subsetter_spark.operators.lakehouse import (
        delta_merge_available,
        merge_upsert_auto,
        read_merged,
    )
    from rdbms_subsetter_spark.queries.sources import q_merge_partition_pruned
    from pyspark.sql import functions as F

    assert delta_merge_available(spark) is False

    path, engine = merge_upsert_auto(spark, SF_SMALL)
    assert engine == "dynamic-overwrite"

    audit = (
        read_merged(spark, path, engine)
        .groupBy("nation")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("updated").cast("long")).alias("n_updated"),
            F.sum(F.round(F.col("balance") * 100).cast("long")).alias(
                "balance_cents"
            ),
        )
    )
    got = sorted(tuple(r) for r in audit.collect())
    want = sorted(tuple(r) for r in q_merge_partition_pruned(spark, SF_SMALL).collect())
    assert got == want


@pytest.fixture(scope="module")
def adversarial_cogroup_dir(spark):
    """events.parquet + orders.parquet shaped like the testdata but with
    the cogroup edge cases: a user with events only, a user with orders
    only, a user whose every event value is NULL, and a user with a
    single row on each side."""
    import datetime as dt

    out = os.path.join(tempfile.gettempdir(), "rss_r05_adversarial_cogroup")
    ts = dt.datetime(2024, 1, 1, 12, 0, 0)
    events = [
        # user 100: normal, two events (one NULL value mixed in)
        (1, ts, 100, "click", 10.5, "{}"),
        (2, ts, 100, "click", None, "{}"),
        # user 200: events only, ALL values NULL (sum must read 0.0)
        (3, ts, 200, "view", None, "{}"),
        (4, ts, 200, "view", None, "{}"),
        # user 400: single event
        (5, ts, 400, "click", 2.25, "{}"),
        # user 7: NOT in the % 100 == 0 slice -> must be excluded
        (6, ts, 7, "click", 99.0, "{}"),
    ]
    orders = [
        # user 100: one order
        (1, 100, "O", 1000.0, ts, "1-URGENT"),
        # user 300: orders only, two orders
        (2, 300, "O", 10.0, ts, "2-HIGH"),
        (3, 300, "F", 20.0, ts, "2-HIGH"),
        # user 400: single order
        (4, 400, "O", 5.5, ts, "3-MEDIUM"),
        # user 7: excluded slice
        (5, 7, "O", 77.0, ts, "1-URGENT"),
    ]
    spark.createDataFrame(
        events,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "events.parquet")
    )
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "orders.parquet")
    )
    return out


def test_udf_cogrouped_merge_edge_groups_parity(spark, adversarial_cogroup_dir):
    """The cogrouped reconciliation matches its FULL-OUTER-join oracle on
    the edge groups the testdata can't guarantee: one-side-only keys,
    all-NULL value groups (pandas skipna sum == SQL sum + coalesce), and
    slice exclusion."""
    from rdbms_subsetter_spark.queries.sql import _SQL_COGROUPED_MERGE, q_udf_cogrouped_merge

    sf_dir = adversarial_cogroup_dir
    got = _canon(
        tuple(r)
        for r in q_udf_cogrouped_merge(spark, sf_dir)
        .select("user_id", "n_events", "n_orders", "event_value", "order_value")
        .collect()
    )
    con = duckdb.connect()
    for t in ("events", "orders"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{os.path.join(sf_dir, t + '.parquet', '*.parquet')}'"
        )
    want = _canon(con.execute(_SQL_COGROUPED_MERGE).fetchall())
    assert got == want
    users = {r[0] for r in got}
    # every edge case present, excluded slice absent
    assert users == {100, 200, 300, 400}


def test_udtf_dynamic_schema_empty_token_parity(spark, adversarial_docs_dir):
    """split_first_k's empty-token -> NULL convention matches the
    oracle's nullif(split_part(...), '') on every adversarial shape:
    consecutive, leading, trailing, all-space, empty, and NULL text
    (ADVICE r04: 'confirm on data with consecutive spaces')."""
    from rdbms_subsetter_spark.queries.sql import _SQL_UDTF_DYNAMIC, q_udtf_dynamic_schema

    got = _canon(
        (r["first_tok"], r["n_docs"], r["n_full_width"])
        for r in q_udtf_dynamic_schema(spark, adversarial_docs_dir).collect()
    )
    want = _canon(_duckdb_oracle(_SQL_UDTF_DYNAMIC, adversarial_docs_dir))
    assert got == want
    # the crafted data must actually exercise the empty-token path:
    # a NULL first_tok group exists (leading-space + empty + NULL text)
    assert any(k[0] is None for k in got)


def test_jsonlsink_overwrite_manifest_and_orphan_invisibility(spark):
    """The Python DataSource writer's commit protocol, asserted on real
    files: (1) a 4-partition write commits 4 files whose manifest row
    total equals the source count; (2) mode('overwrite') removes the
    previous generation (no double rows); (3) an orphan file dropped
    into the directory OUTSIDE the commit (failed/speculative task
    simulation) is invisible to the manifest-honoring read."""
    import json
    import shutil

    from tests.conftest import SF_SMALL

    from rdbms_subsetter_spark.catalog import Catalog
    from rdbms_subsetter_spark.sources.pysource import (
        JsonlSinkDataSource,
        read_jsonl_sink,
    )

    spark.dataSource.register(JsonlSinkDataSource)
    out = os.path.join(tempfile.gettempdir(), "rss_r05_jsonlsink_test")
    shutil.rmtree(out, ignore_errors=True)
    docs = Catalog(spark, SF_SMALL)["documents"].select("doc_id", "lang", "n_chars")
    n_src = docs.count()
    schema = "doc_id long, lang string, n_chars long"

    docs.repartition(4).write.format("jsonlsink").option("path", out).mode(
        "append"
    ).save()
    manifest = json.load(open(os.path.join(out, "_manifest.json")))
    assert len(manifest["files"]) == 4
    assert manifest["total_rows"] == n_src

    # second write in overwrite mode: previous generation fully replaced
    docs.repartition(2).write.format("jsonlsink").option("path", out).mode(
        "overwrite"
    ).save()
    manifest = json.load(open(os.path.join(out, "_manifest.json")))
    assert len(manifest["files"]) == 2
    assert manifest["total_rows"] == n_src
    assert read_jsonl_sink(spark, out, schema).count() == n_src

    # orphan simulation: a file never committed must stay invisible
    with open(os.path.join(out, "part-deadbeef.jsonl"), "w") as fh:
        fh.write('{"doc_id": 999999, "lang": "xx", "n_chars": 1}\n')
    back = read_jsonl_sink(spark, out, schema)
    assert back.count() == n_src
    assert back.where("lang = 'xx'").count() == 0


def test_jsonlsink_roundtrip_adversarial_values(spark):
    """Byte-level robustness of the jsonlsink write/read contract on
    values json-lines formats classically mangle: embedded newlines,
    carriage returns, tabs and control chars (must stay ONE escaped
    line per row), quotes/backslashes, non-BMP unicode, empty strings,
    NULLs in every column, and longs at the int64 extremes.  Read-back
    must be value-identical, and the file must hold exactly one
    physical line per row (the jsonl framing invariant the manifest's
    n_rows accounting relies on)."""
    import json
    import shutil

    from rdbms_subsetter_spark.sources.pysource import (
        JsonlSinkDataSource,
        read_jsonl_sink,
    )

    rows = [
        (1, "line1\nline2", 0),                  # embedded newline
        (2, "cr\rand\ttab", -1),                 # CR + tab
        (3, 'quote " backslash \\ slash /', 42),
        (4, "non-bmp \U0001f600 emoji é", 7),
        (5, "", 0),                              # empty string
        (6, None, None),                         # NULLs
        (None, "null id", 9),                    # NULL key
        (7, "ctrl \x01\x1f chars", 2),
        (8, "x", 9223372036854775807),           # int64 max
        (9, "y", -9223372036854775808),          # int64 min
    ]
    schema = "doc_id long, text string, n long"
    spark.dataSource.register(JsonlSinkDataSource)
    out = os.path.join(tempfile.gettempdir(), "rss_r05_jsonlsink_adv")
    shutil.rmtree(out, ignore_errors=True)
    src = spark.createDataFrame(rows, schema)
    src.repartition(3).write.format("jsonlsink").option("path", out).mode(
        "append"
    ).save()

    # jsonl framing: committed physical line count == row count
    manifest = json.load(open(os.path.join(out, "_manifest.json")))
    n_lines = 0
    for f in manifest["files"]:
        with open(f["path"], "rb") as fh:
            n_lines += sum(1 for _ in fh)
    assert n_lines == len(rows) == manifest["total_rows"]

    back = read_jsonl_sink(spark, out, schema)
    canon = lambda df: sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((v is None, str(v)) for v in t),
    )
    assert canon(back) == canon(src)


def test_frame_sample_zero_frame_video_yields_no_rows(spark):
    """A zero-frame video row (real decoders can produce one) must
    produce zero sampled frames — without the n_frames > 0 guard,
    sequence(0, -1, 8) throws wrong-direction bounds and fails the
    whole job."""
    from rdbms_subsetter_spark.operators.multimodal import frame_sample

    decoded = spark.createDataFrame(
        [
            (1, "video", 24),
            (2, "video", 0),     # degenerate: decoder found no frames
            (3, "audio", 0),
            (4, "video", 3),
        ],
        "media_id long, media_type string, n_frames int",
    )
    rows = frame_sample(decoded, every_n=8).collect()
    got = sorted((r["media_id"], r["frame_idx"]) for r in rows)
    assert got == [(1, 0), (1, 8), (1, 16), (4, 0)]


def test_json_extraction_non_numeric_prop_parity(spark):
    """Adversarial props JSON — non-numeric / missing / empty / NULL
    'k' values — through all three JSON-extraction surfaces
    (map_functions, json_extract_events, json_variant_extract): the
    try_ forms must yield NULL (the plain ANSI casts would throw
    CAST_INVALID_INPUT / INVALID_VARIANT_CAST mid-scan) and every Spark
    result must still match its DuckDB TRY_CAST oracle on the same
    crafted data."""
    import json as _json
    import shutil

    import __spark_entry__ as entry_mod

    out = os.path.join(tempfile.gettempdir(), "rss_r05_adversarial_events")
    shutil.rmtree(out, ignore_errors=True)
    rows = [
        (1, "view", _json.dumps({"k": "42", "b": "x"})),   # numeric
        (2, "view", _json.dumps({"k": "abc"})),            # NON-numeric -> NULL
        (3, "click", _json.dumps({"b": "nok"})),           # k absent -> NULL
        (4, "click", _json.dumps({"k": ""})),              # empty string -> NULL
        (5, "view", _json.dumps({"k": "-7"})),             # negative numeric
        (6, "error", None),                                # NULL props
    ]
    spark.createDataFrame(
        rows, "event_id long, event_type string, props string"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "events.parquet")
    )

    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{os.path.join(out, 'events.parquet', '*.parquet')}'"
    )
    for name in ("map_functions", "json_extract_events", "json_variant_extract"):
        got = _canon(tuple(r) for r in qs[name](spark, out).collect())
        want = _canon(con.execute(oracles[name]).fetchall())
        assert got == want, (name, got, want)

    # map_functions row detail: numeric survives, junk nulls out
    k_vals = {
        r[0]: r[3] for r in qs["map_functions"](spark, out).collect()
    }
    assert k_vals[1] == 42 and k_vals[5] == -7
    assert k_vals[2] is None and k_vals[4] is None


def test_variant_extract_survives_malformed_json_spark_only(spark):
    """Spark-only (DuckDB's json functions throw on invalid JSON, so no
    shared oracle): try_parse_json turns malformed props into NULL
    variants instead of failing the scan, and they land in n_null_k."""
    from rdbms_subsetter_spark.queries.sql import q_json_variant_extract

    out = os.path.join(tempfile.gettempdir(), "rss_r05_malformed_events")
    import shutil

    shutil.rmtree(out, ignore_errors=True)
    rows = [
        (1, "view", '{"k": 3}'),
        (2, "view", "{not json at all"),
        (3, "view", '{"k": "xyz"}'),
    ]
    spark.createDataFrame(
        rows, "event_id long, event_type string, props string"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "events.parquet")
    )
    r = q_json_variant_extract(spark, out).collect()[0]
    assert r["n_events"] == 3 and r["sum_k"] == 3 and r["n_null_k"] == 2


def test_empty_corpus_batch_queries_return_empty(spark):
    """Empty-input contract for the batch surface: on a dataset with
    every table present but zero rows, representative queries from each
    family run to an EMPTY result instead of crashing — including the
    driver-scalar-fit operators (equidepth boundaries, incremental-agg
    watermark, IVF/SemDeDup k-means, PageRank), which all previously
    assumed at least one row.  pca keeps its documented explicit raise
    (a fitted basis genuinely cannot exist)."""
    import shutil

    import pytest as _pytest

    import __spark_entry__ as entry_mod
    from tests.conftest import SF_SMALL

    out = os.path.join(tempfile.gettempdir(), "rss_r05_empty_sf")
    shutil.rmtree(out, ignore_errors=True)
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings".split()
    ):
        spark.read.parquet(os.path.join(SF_SMALL, f"{t}.parquet")).limit(
            0
        ).write.parquet(os.path.join(out, f"{t}.parquet"))

    qs = entry_mod.queries()
    empty_ok = [
        "events_hourly", "sessionize", "equidepth_histogram",
        "incr_agg_maintenance", "events_anomaly_zscore", "events_winsorize",
        "dedup_exact", "dedup_minhash_lsh", "heavy_hitters_tokens",
        "json_extract_events", "json_variant_extract", "map_functions",
        "docs_per_source_cap", "text_stats", "mixture_weighted_sample",
        "ann_cosine_topk", "ann_ivf_topk", "dedup_semdedup",
        "graph_pagerank", "join_runtime_bloom", "sample_weighted_topk",
        "doc_pack_sequences", "filter_eq", "agg_pricing_summary",
        "merge_partition_pruned", "partitioned_source_prune",
        "incr_ingest_watermark",
        # round 6
        "sql_qualify_topk", "embed_quant_recall", "incr_agg_retract",
        # round 7 (incl. the capped/star graded flips)
        "dedup_ngram_jaccard", "dedup_cc_clusters", "dedup_embedding_cosine",
        "dedup_minhash_cross_corpus", "agg_approx_top_k",
        "dedup_cc_clusters_minlabel",
        "streaming_ttl_activity",
    ]
    for name in empty_ok:
        assert qs[name](spark, out).count() == 0, name
    # global-aggregate audits legitimately emit one (NULL-laden) row on
    # empty input — the contract is "no crash, sane shape"
    assert qs["join_cardinality_sketch"](spark, out).count() == 1

    # the DQ suite is the one query that must NOT be empty on empty
    # input: every check reports metric NULL + status 'fail' (no data
    # is a failed data-quality check, not a crash)
    dq = qs["dq_constraint_report"](spark, out).collect()
    assert len(dq) == 5
    assert all(r["metric"] is None and r["status"] == "fail" for r in dq)

    with _pytest.raises(ValueError, match="empty input"):
        qs["embed_pca_project"](spark, out).count()
