"""Scale-stress harness: does each operator's runtime scale ~linearly
with data volume, holding data CHARACTER constant?

Builds a synthetic ×N dataset from sf0.1 (default N=8, ~4.8M lineitem
rows) as N disjoint tenant copies — keys shifted into disjoint ranges,
document token order re-permuted per copy (so near-dup/shingle density
stays constant instead of every doc gaining N-1 exact duplicates), and
embeddings regenerated from a per-copy hash formula (so ANN pair
density stays constant).  Dimension tables (region/nation) are kept
single-copy, as dims are at 100 TB.

Then runs a representative operator list at sf0.1 and at the scaled
dir and prints the runtime ratio.  A ratio ≲ N is scale-linear (fixed
costs amortize, ratios well under N are common locally); a ratio ≫ N
is a superlinear red flag the plan audit missed.

Usage:  python tools/scale_stress.py [N] [--rebuild]
Results are recorded in SCALE.md ("Measured scaling" section).
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SRC = "/root/testdata/sf0.1"
KEY_OFFSET = 10**9

QUERIES = [
    "subset_summary",
    "subset_integrity",
    "agg_pricing_summary",
    "join_revenue_by_nation",
    "window_rank_running",
    "sessionize",
    "events_attribution",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_cc_clusters",
    "ann_srp_bucketed",
    "tfidf_bm25",
    "doc_pack_sequences",
    "text_stats",
    "mixture_weighted_sample",
    "heavy_hitters_tokens",
    # round-7 coverage growth: the new entries + previously-unmeasured
    # families (graph ranking, fuzzy ER, as-of joins, multimodal UDFs,
    # embedding near-dup at the same x8 volume as the doc operators)
    "dedup_minhash_cross_corpus",
    "agg_approx_top_k",
    # dedup_ngram_jaccard_uncapped retired in r8 (it was THE measured
    # superlinear control, 15.5x at x8)
    "dedup_cc_clusters_minlabel",
    "dedup_embedding_cosine",
    "graph_pagerank",
    "er_fuzzy_join",
    "asof_join_latest_order",
    "multimodal_features",
    "decontaminate_ngram",
]



def _release_lingering_blocks(spark):
    """Between rung measurements: localCheckpoint blocks of FINISHED
    queries linger until the JVM garbage-collects their RDDs, so
    successive heavy entries in one session accumulate storage-memory
    pressure that squeezes execution memory for later entries (measured
    in the round-8 docs rung: dedup_cc_clusters sf0.1 baseline 14.2 s
    mid-session after four minhash/jaccard entries vs 5.4 s isolated).
    Nudging both collectors lets the ContextCleaner drop them."""
    import gc

    gc.collect()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass

def scaled_copies(base, n_copies: int, key_cols, transform=None):
    """N disjoint tenant copies of ``base``: key columns shifted into
    disjoint ranges, with an optional per-copy transform (the
    density-preserving text permutation / vector regeneration below).
    Importable by tests (tests/test_scale_ratios.py builds its ×4 CI
    corpora from the same transforms this harness measures with)."""
    from pyspark.sql import functions as F

    def shifted(df, copy):
        for c in key_cols:
            df = df.withColumn(c, F.col(c) + F.lit(copy * KEY_OFFSET))
        return df

    parts = []
    for i in range(n_copies):
        d = shifted(base, i)
        if transform is not None:
            d = transform(d, i)
        parts.append(d)
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df


def permute_doc_text(d, i: int):
    """Deterministic per-copy POSITION permutation of document tokens —
    keeps shingle/near-dup DENSITY constant across copies (see the
    comment in ``build``)."""
    from pyspark.sql import functions as F

    if i == 0:
        return d
    toks = F.split(F.col("text"), r"\s+")
    keyed = F.transform(
        toks,
        lambda t, j: F.struct(
            F.md5(F.concat(j.cast("string"), F.lit(f"#c{i}"))).alias("k"),
            t.alias("t"),
        ),
    )
    return d.withColumn(
        "text",
        F.array_join(F.transform(F.array_sort(keyed), lambda s: s["t"]), " "),
    )


def tag_doc_tokens(d, i: int):
    """Per-copy token TAGGING (``tok`` → ``c3qtok``): the density-
    preserving transform for RUN-sensitive operators.  The position
    permutation used for the shingle family keeps shingle-set overlap
    density but destroys contiguous runs, so a substring-dedup rung
    built with it would measure an artificially empty candidate space.
    Tagging preserves every within-copy run and pair EXACTLY (identical
    texts stay identical, shared runs stay shared, lcs lengths
    unchanged) while making cross-copy token vocabularies disjoint —
    constant pair density per copy, zero cross-copy pairs."""
    from pyspark.sql import functions as F

    if i == 0:
        return d
    toks = F.split(F.col("text"), r"\s+")
    return d.withColumn(
        "text",
        F.array_join(
            F.transform(toks, lambda t: F.concat(F.lit(f"c{i}q"), t)), " "
        ),
    )


def regenerate_vectors(d, i: int, dim: int = 64):
    """Per-copy pseudo-random embeddings (constant ANN pair density;
    duplicated vectors would make every copy an exact neighbor)."""
    from pyspark.sql import functions as F

    if i == 0:
        return d
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: (
            F.pmod(F.xxhash64(F.col("vec_id"), F.lit(i), j), F.lit(2000))
            / F.lit(1000.0)
            - F.lit(1.0)
        ).cast("float"),
    )
    return d.withColumn("embedding", vec)


def build(spark, n_copies: int, out: str) -> None:
    from pyspark.sql import functions as F

    from rdbms_subsetter_spark.catalog import Catalog

    cat = Catalog(spark, SRC)
    os.makedirs(out, exist_ok=True)

    def copies(name, key_cols, transform=None):
        df = scaled_copies(cat[name], n_copies, key_cols, transform)
        df.write.mode("overwrite").parquet(os.path.join(out, f"{name}.parquet"))

    # dims stay single-copy (realistic: dims don't scale with facts)
    for dim in ("region", "nation"):
        cat[dim].write.mode("overwrite").parquet(
            os.path.join(out, f"{dim}.parquet")
        )
    copies("customer", ["c_custkey"])
    copies("supplier", ["s_suppkey"])
    copies("part", ["p_partkey"])
    copies("orders", ["o_orderkey", "o_custkey"])
    copies("lineitem", ["l_orderkey", "l_partkey", "l_suppkey"])
    copies("events", ["event_id", "user_id"])

    # documents: position-permuted per copy — constant shingle/near-dup
    # DENSITY across copies (a plain ×N duplication would give every doc
    # N-1 exact duplicates and inflate every pair-emitting dedup
    # superlinearly BY CONSTRUCTION, measuring the synthetic data, not
    # the operator).  The permutation key is the token POSITION, never
    # the token value: a value-keyed sort was measured to CORRELATE
    # different docs (shared vocabulary → shared global order → inflated
    # within-copy Jaccard → 100× candidate blowup that was the synthetic
    # data's fault).  Position keys keep identical texts identical
    # (exact-dup density preserved) and leave unrelated docs unrelated.
    copies("documents", ["doc_id"], permute_doc_text)
    copies("embeddings", ["vec_id"], regenerate_vectors)


def main() -> None:
    if "--one" in sys.argv:
        i = sys.argv.index("--one")
        measure_one(sys.argv[i + 1], sys.argv[i + 2], sys.argv[i + 3])
        return
    pos = [a for a in sys.argv[1:] if not a.startswith("--")]
    n_copies = int(pos[0]) if pos else 8
    out = f"/tmp/rss_scale{n_copies}"
    from rdbms_subsetter_spark.session import get_spark
    import __spark_entry__ as entry_mod

    spark = get_spark("scale-stress")
    if "--skew" in sys.argv:
        skew_stress(spark)
        return
    if "--zipf" in sys.argv:
        zipf_stress(spark, n_copies)
        return
    if "--streaming" in sys.argv:
        streaming_stress(spark, n_copies)
        return
    if "--docs" in sys.argv:
        docs_stress(spark, n_copies)
        return
    if "--events" in sys.argv:
        events_stress(spark, n_copies)
        return
    only = None
    for a in sys.argv[1:]:
        if a.startswith("--only="):
            only = a.split("=", 1)[1].split(",")
    if "--emb" in sys.argv:
        emb_stress(spark, n_copies, only)
        return
    if "--rebuild" in sys.argv or not os.path.exists(
        os.path.join(out, "lineitem.parquet")
    ):
        t0 = time.time()
        build(spark, n_copies, out)
        print(f"built {out} in {time.time() - t0:.1f}s")

    qs = entry_mod.queries()

    def run(name, sf_dir):
        _release_lingering_blocks(spark)
        t0 = time.time()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    # warm both inputs once
    run("agg_pricing_summary", SRC)
    run("agg_pricing_summary", out)
    print(f"{'query':28s} {'sf0.1':>8s} {'x' + str(n_copies):>8s}  ratio")
    for name in (only or QUERIES):
        a = min(run(name, SRC), run(name, SRC))
        b = min(run(name, out), run(name, out))
        print(f"{name:28s} {a:8.2f} {b:8.2f}  {b / max(a, 1e-3):5.1f}x")


# ---------------------------------------------------------------------------
# documents-only ×N stress: the cheap big rung (×64 fits in minutes)
# ---------------------------------------------------------------------------

DOC_QUERIES = [
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_minhash_cross_corpus",
    "dedup_cc_clusters",
    "dedup_cc_clusters_minlabel",
    "dedup_simhash",
    "text_stats",
    "tfidf_bm25",
    "heavy_hitters_tokens",
    "agg_approx_top_k",
    "decontaminate_ngram",
    "lang_id",
    "dedup_minhash_keep",
]


def docs_stress(spark, n_copies: int = 64) -> None:
    """×N stress for the document-only operator family.  Building just
    documents.parquet makes a ×64 rung affordable (~20 s build, 320k
    docs / 16.7M shingle rows from sf0.1) — and ×64 is the rung that
    caught the correlated-minhash candidate mega-buckets that ×8 could
    not (SCALE.md round-7): Σ(bucket²) failures need absolute df to
    cross its threshold, not just more copies."""
    import __spark_entry__ as entry_mod

    from rdbms_subsetter_spark.catalog import Catalog

    out = f"/tmp/rss_docs{n_copies}"
    if not os.path.exists(os.path.join(out, "documents.parquet")):
        t0 = time.time()
        docs = Catalog(spark, SRC)["documents"]
        scaled_copies(docs, n_copies, ["doc_id"], permute_doc_text).write.mode(
            "overwrite"
        ).parquet(os.path.join(out, "documents.parquet"))
        print(f"built {out} in {time.time() - t0:.1f}s")

    qs = entry_mod.queries()

    def run(name, sf_dir):
        _release_lingering_blocks(spark)
        t0 = time.time()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    run("text_stats", SRC)
    run("text_stats", out)
    print(f"{'query':30s} {'sf0.1':>8s} {'x' + str(n_copies):>8s}  ratio")
    for name in DOC_QUERIES:
        a = min(run(name, SRC), run(name, SRC))
        b = min(run(name, out), run(name, out))
        print(f"{name:30s} {a:8.2f} {b:8.2f}  {b / max(a, 1e-3):5.1f}x", flush=True)

    # run-sensitive family: needs the tag transform (see tag_doc_tokens)
    tag_out = f"/tmp/rss_docs{n_copies}_tag"
    if not os.path.exists(os.path.join(tag_out, "documents.parquet")):
        docs = Catalog(spark, SRC)["documents"]
        scaled_copies(docs, n_copies, ["doc_id"], tag_doc_tokens).write.mode(
            "overwrite"
        ).parquet(os.path.join(tag_out, "documents.parquet"))
    for name in ("dedup_substring_exact",):
        a = min(run(name, SRC), run(name, SRC))
        b = min(run(name, tag_out), run(name, tag_out))
        print(f"{name + ' (tagged)':30s} {a:8.2f} {b:8.2f}  {b / max(a, 1e-3):5.1f}x", flush=True)


# ---------------------------------------------------------------------------
# streaming replay stress: ×N events volume = ×N micro-batches + ×N state
# ---------------------------------------------------------------------------


def streaming_stress(spark, n_copies: int = 8) -> None:
    """Replay-volume scaling for every ``streaming_*`` battery entry:
    the ×N events table is N disjoint user/event-id copies written as N
    part files, so with ``maxFilesPerTrigger=1`` the bounded replay
    runs ×N micro-batches over ×N rows with ×N distinct state keys —
    all three streaming cost axes scale together, the shape a backfill
    replay has in production.  Ratios ≲ N mean per-batch fixed costs
    (state store open/commit, offset log, planning) amortize; ratios
    ≫ N would mean state or planning work grows with TOTAL history
    rather than per-batch volume (the superlinear failure mode for
    stateful operators)."""
    import __spark_entry__ as entry_mod

    out = f"/tmp/rss_scale{n_copies}"
    if not os.path.exists(os.path.join(out, "events.parquet")):
        build(spark, n_copies, out)
    qs = entry_mod.queries()
    names = sorted(n for n in qs if n.startswith("streaming_"))

    def run(name, sf_dir):
        _release_lingering_blocks(spark)
        t0 = time.time()
        n_rows = qs[name](spark, sf_dir).count()
        return time.time() - t0, n_rows

    run(names[0], SRC)  # warm
    print(f"{'query':32s} {'sf0.1':>8s} {'rows':>7s} {'x' + str(n_copies):>8s} {'rows':>8s}  ratio")
    for name in names:
        a, ra = min(run(name, SRC), run(name, SRC))
        b, rb = min(run(name, out), run(name, out))
        print(f"{name:32s} {a:8.2f} {ra:7d} {b:8.2f} {rb:8d}  {b / max(a, 1e-3):5.1f}x")


# ---------------------------------------------------------------------------
# events/join-family ×N stress: the big rung for streaming + joins
# ---------------------------------------------------------------------------

EVENT_JOIN_QUERIES = [
    "sessionize",
    "events_hourly",
    "events_attribution",
    "asof_join_latest_order",
    "asof_join_prev_event",
    "range_join_price_bands",
    "join_runtime_bloom",
    "join_topk_unshipped",
    "window_salted_running_total",
    "agg_hll_rollup",
    "agg_regression",
]


def events_stress(spark, n_copies: int = 64) -> None:
    """×N stress for the events/streaming/join families — the round-7
    lesson mechanized for this data family: ×8 hides threshold-crossing
    failures (Σ bucket², state-store blowups, per-batch planning cost
    that grows with total history), so the streaming and join tables
    get their own ×64 rung.  Builds only the tables these families
    read (events/orders/customer/lineitem/part + single-copy dims) —
    documents/embeddings are skipped, which is what makes ×64
    affordable here (~6.4M events / ~38M lineitem rows from sf0.1).

    Streaming entries replay with ``maxFilesPerTrigger=1``, so the ×N
    union's file count sets the micro-batch count: ×N data = ~×N
    batches × ×N state keys, all cost axes scaling together."""
    import __spark_entry__ as entry_mod

    from rdbms_subsetter_spark.catalog import Catalog

    out = f"/tmp/rss_ev{n_copies}"
    if not os.path.exists(os.path.join(out, "events.parquet")):
        t0 = time.time()
        cat = Catalog(spark, SRC)
        os.makedirs(out, exist_ok=True)
        for dim in ("region", "nation"):
            cat[dim].write.mode("overwrite").parquet(
                os.path.join(out, f"{dim}.parquet")
            )
        for name, keys in (
            ("customer", ["c_custkey"]),
            ("supplier", ["s_suppkey"]),
            ("part", ["p_partkey"]),
            ("orders", ["o_orderkey", "o_custkey"]),
            ("lineitem", ["l_orderkey", "l_partkey", "l_suppkey"]),
            ("events", ["event_id", "user_id"]),
        ):
            scaled_copies(cat[name], n_copies, keys).write.mode(
                "overwrite"
            ).parquet(os.path.join(out, f"{name}.parquet"))
        print(f"built {out} in {time.time() - t0:.1f}s")

    qs = entry_mod.queries()
    # streaming_curation_funnel streams DOCUMENTS, which this rung
    # deliberately doesn't build — it scales with the --docs rung
    streaming = sorted(
        n
        for n in qs
        if n.startswith("streaming_") and n != "streaming_curation_funnel"
    )

    def run(name, sf_dir):
        _release_lingering_blocks(spark)
        t0 = time.time()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    run("events_hourly", SRC)
    run("events_hourly", out)
    print(f"{'query':32s} {'sf0.1':>8s} {'x' + str(n_copies):>8s}  ratio")
    for name in EVENT_JOIN_QUERIES:
        a = min(run(name, SRC), run(name, SRC))
        b = run(name, out)  # one shot at ×64: minutes-scale runs
        print(f"{name:32s} {a:8.2f} {b:8.2f}  {b / max(a, 1e-3):5.1f}x", flush=True)
    # Streaming entries run ONE FRESH PROCESS EACH: a single long session
    # accumulates every stopped query's memory-sink table and lingering
    # state-store maps, and the aging compounds — measured 341 s for
    # streaming_stream_join as the 13th streaming query of one session
    # vs 67 s in a fresh session on the identical ×64 input (the row the
    # round-8 rung first reported as a 146× superlinear outlier was a
    # HARNESS artifact, not operator state growth: per-batch probes
    # showed flat ~0.9 s batches and linear state).  Isolation makes the
    # measured number the operator's own.
    import subprocess

    for name in streaming:
        try:
            # generous ceiling: a hung streaming query (the exact
            # failure mode this rung probes) must surface as a row,
            # not block the whole rung indefinitely (ADVICE r08)
            r = subprocess.run(
                [sys.executable, __file__, "--one", name, SRC, out],
                capture_output=True,
                text=True,
                timeout=1800,
            )
        except subprocess.TimeoutExpired:
            print(f"{name:32s} TIMEOUT (>1800s)", flush=True)
            continue
        lines = [l for l in r.stdout.splitlines() if l.startswith("RESULT ")]
        if lines:
            _, nm, a, b = lines[-1].split()
            a, b = float(a), float(b)
            print(f"{nm:32s} {a:8.2f} {b:8.2f}  {b / max(a, 1e-3):5.1f}x", flush=True)
        else:
            print(f"{name:32s} FAILED\n{r.stderr[-2000:]}", flush=True)


def measure_one(name: str, src: str, out: str) -> None:
    """Measure one battery entry in THIS process (the per-entry
    isolation target of events_stress): baseline min-of-2 at ``src``,
    one shot at ``out``, machine-readable RESULT line."""
    import __spark_entry__ as entry_mod

    from rdbms_subsetter_spark.session import get_spark

    spark = get_spark(f"scale-one-{name}")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()

    def run(sf_dir):
        t0 = time.time()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    a = min(run(src), run(src))
    b = run(out)
    print(f"RESULT {name} {a:.2f} {b:.2f}", flush=True)
    spark.stop()


# ---------------------------------------------------------------------------
# embeddings/similarity-family ×N stress
# ---------------------------------------------------------------------------

EMB_QUERIES = [
    "embed_norm_stats",
    "embed_quantize_int8",
    "embed_quant_recall",
    "dedup_embedding_cosine",
    "ann_cosine_topk",
    "ann_srp_bucketed",
    "ann_ivf_topk",
    "knn_graph_degree",
    "embed_pca_project",
    # round 9: recall contracts — each runs the ANN path AND the exact
    # top-k over the FIXED audit sample, so the rung proves the audit
    # itself stays ~linear (the embed_quant_recall lesson)
    "ann_srp_recall",
    "ann_ivf_recall",
    # round 10: the block-broadcast exact self-kNN — the quadratic
    # floor measured WITHOUT the driver-collect bound (compare against
    # knn_graph_degree, which rides the broadcast kernel)
    "knn_graph_blocked",
]


def emb_stress(spark, n_copies: int = 64, only: "list[str] | None" = None) -> None:
    """×N stress for the similarity family: embeddings regenerated per
    copy from the hash formula (constant ANN pair density — duplicated
    vectors would make every copy an exact neighbor), so ×64 = 128k
    64-dim vectors from sf0.1's 2k.  The exact kernels (cosine_topk,
    knn_graph) are measured on purpose: their cost is the quadratic
    floor the bucketed/IVF paths exist to beat, and the auto-scaling
    knobs (SRP planes from COUNT(*), IVF √n cells) are exactly what a
    pinned-knob rung would mismeasure."""
    import __spark_entry__ as entry_mod

    from rdbms_subsetter_spark.catalog import Catalog

    out = f"/tmp/rss_emb{n_copies}"
    if not os.path.exists(os.path.join(out, "embeddings.parquet")):
        t0 = time.time()
        os.makedirs(out, exist_ok=True)
        scaled_copies(
            Catalog(spark, SRC)["embeddings"], n_copies, ["vec_id"],
            regenerate_vectors,
        ).write.mode("overwrite").parquet(os.path.join(out, "embeddings.parquet"))
        print(f"built {out} in {time.time() - t0:.1f}s")

    qs = entry_mod.queries()

    def run(name, sf_dir):
        _release_lingering_blocks(spark)
        t0 = time.time()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    run("embed_norm_stats", SRC)
    run("embed_norm_stats", out)
    print(f"{'query':26s} {'sf0.1':>8s} {'x' + str(n_copies):>8s}  ratio")
    for name in only if only else EMB_QUERIES:
        a = min(run(name, SRC), run(name, SRC))
        b = min(run(name, out), run(name, out))
        print(f"{name:26s} {a:8.2f} {b:8.2f}  {b / max(a, 1e-3):5.1f}x", flush=True)


# ---------------------------------------------------------------------------
# Zipfian shingle-df stress: the natural-corpus frequency shape
# ---------------------------------------------------------------------------


def zipf_build(spark, n_docs: int, out: str, vocab: int = 30_000, doc_len: int = 60):
    """Deterministic corpus whose token frequencies follow Zipf(1):
    token rank at (doc, pos) = ⌊V^u⌋ with u uniform from xxhash64 —
    a log-uniform rank is exactly df ∝ 1/rank.  Shingle (3-gram) df
    inherits the head-heavy skew: a handful of all-common-token
    shingles appear in thousands of docs while the tail is unique.
    This is the regime the round-6 flat-df harness could NOT produce,
    and the one prefix filtering (AllPairs) is designed for — measured
    there against the df cap before that filter was removed."""
    from pyspark.sql import functions as F

    toks = F.transform(
        F.sequence(F.lit(0), F.lit(doc_len - 1)),
        lambda j: F.concat(
            F.lit("w"),
            F.floor(
                F.pow(
                    F.lit(float(vocab)),
                    F.pmod(F.xxhash64(F.col("doc_id"), j), F.lit(1_000_000))
                    / F.lit(1_000_000.0),
                )
            ).cast("string"),
        ),
    )
    df = (
        spark.range(n_docs)
        .select(
            F.col("id").alias("doc_id"),
            F.array_join(toks, " ").alias("text"),
            F.lit("en").alias("lang"),
            F.lit("zipf").alias("source"),
        )
        .withColumn("n_chars", F.length("text"))
    )
    os.makedirs(out, exist_ok=True)
    df.write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))


def zipf_stress(spark, n_copies: int = 8, base_docs: int = 5000) -> None:
    """Measure the n-gram Jaccard candidate stage on Zipf-skewed
    shingle df, at base and ×N corpus size: the graded capped
    configuration (which should stay ~linear here) against the
    uncapped full join as the control, where feasible."""
    from pyspark.sql import functions as F

    from rdbms_subsetter_spark.catalog import Catalog
    from rdbms_subsetter_spark.operators.dedup import ngram_jaccard_pairs, shingles
    from rdbms_subsetter_spark.queries.dedup import NGRAM_MAX_DOC_FREQ

    dirs = {}
    for n in (base_docs, base_docs * n_copies):
        d = f"/tmp/rss_zipf_{n}"
        if not os.path.exists(os.path.join(d, "documents.parquet")):
            zipf_build(spark, n, d)
        dirs[n] = d

    for n, d in dirs.items():
        docs = Catalog(spark, d)["documents"]
        sh = shingles(docs, 3, hashed=True)
        stats = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .agg(
                F.count(F.lit(1)).alias("n_shingles"),
                F.max("df").alias("max_df"),
                F.expr("percentile_approx(df, 0.99)").alias("p99_df"),
                F.sum(F.col("df") * F.col("df")).alias("sum_df2"),
            )
            .collect()[0]
        )
        print(
            f"zipf n_docs={n}: shingles={stats['n_shingles']} max_df={stats['max_df']} "
            f"p99_df={stats['p99_df']} sum_df2={stats['sum_df2']}"
        )

    def timed(tag, df):
        t0 = time.time()
        cnt = df.count()
        print(f"  {tag:44s} {time.time() - t0:7.2f}s  ({cnt} pairs)")

    thr = 0.5
    for n, d in dirs.items():
        docs = Catalog(spark, d)["documents"]
        print(f"n_docs={n} (threshold {thr}):")
        timed(
            f"capped df<={NGRAM_MAX_DOC_FREQ} (graded config)",
            ngram_jaccard_pairs(docs, threshold=thr, max_doc_freq=NGRAM_MAX_DOC_FREQ),
        )
        if n <= base_docs:
            timed(
                "uncapped full join (r6 default)",
                ngram_jaccard_pairs(docs, threshold=thr),
            )


# ---------------------------------------------------------------------------
# skew stress: one hot key holding a large share of the fact table
# ---------------------------------------------------------------------------


def skew_stress(spark, hot_factor: int = 40000) -> None:
    """Inflate ONE l_orderkey by ``hot_factor`` replications (~30% of
    the fact table at the default) and measure the skew-safe paths
    against the plain plans:

    * per-group top-k window: plain `row_number` serializes the hot
      group into one task; `partitioning.salted_topk` spreads it over
      salt slices (result-identical, asserted here);
    * the lineitem⋈orders equi-join under AQE: skew-join splitting is
      Spark's own answer — measured, not assumed.
    """
    from pyspark.sql import Window, functions as F

    from rdbms_subsetter_spark import partitioning
    from rdbms_subsetter_spark.catalog import Catalog

    cat = Catalog(spark, SRC)
    li = cat["lineitem"]
    hot = li.limit(1).select("l_orderkey").collect()[0][0]
    hot_rows = (
        li.where(F.col("l_orderkey") == hot)
        .crossJoin(spark.range(hot_factor).select(F.col("id").alias("__rep")))
        .drop("__rep")
    )
    skewed = li.unionByName(hot_rows).localCheckpoint(eager=True)
    n = skewed.count()
    share = skewed.where(F.col("l_orderkey") == hot).count() / n
    print(f"skewed lineitem: {n} rows, hot key holds {share:.1%}")

    def timed(tag, df):
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        print(f"  {tag:34s} {time.time() - t0:6.2f}s")

    order_cols = ["l_extendedprice", "l_linenumber", "l_partkey", "l_suppkey"]
    w = Window.partitionBy("l_orderkey").orderBy(*order_cols)
    plain = (
        skewed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )
    salted = partitioning.salted_topk(skewed, ["l_orderkey"], order_cols, k=3)
    timed("plain window top-3 (hot key)", plain)
    timed("salted_topk (hot key)", salted)
    assert plain.count() == salted.count()

    orders = cat["orders"]
    j = skewed.join(orders, skewed["l_orderkey"] == orders["o_orderkey"]).groupBy(
        "o_orderpriority"
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("l_extendedprice").alias("rev"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force shuffle join
    try:
        timed("shuffle join + agg, AQE skew split", j)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


if __name__ == "__main__":
    main()
