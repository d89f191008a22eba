"""Text analysis and training-data curation over ``documents``: token
statistics, language ID, BPE and sentence splitting, chunking and
packing, TF-IDF, BM25 and keywords, quality rules and LM scores, PII
redaction, mixture sampling, splits, shards and caps, quarantine
routing, and the curation funnel.

Owns the DuckDB token expressions (``_NORM``, ``_TOKS``, ``_RAW_TOKS``)
that the other domains' oracles share.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from rdbms_subsetter_spark import partitioning
from rdbms_subsetter_spark.catalog import Catalog
from rdbms_subsetter_spark.operators import text
from rdbms_subsetter_spark.queries import register


_NORM = (
    "trim(regexp_replace(regexp_replace(lower(text), '[!-/:-@\\[-`{-~]', ' ', 'g'),"
    " '\\s+', ' ', 'g'))"
)


_RAW_TOKS = "string_split_regex(trim(text), '\\s+')"
_EN_STOP = "['the','a','of','and','to','in','is','that']"


@register("text_stats", oracle=f"""
SELECT doc_id, lang,
       len({_RAW_TOKS}) AS n_tokens,
       length(text) AS n_chars_measured,
       round(length(regexp_replace(text, '\\s+', '', 'g')) * 1.0 / len({_RAW_TOKS}), 6) AS mean_token_len,
       round(len(list_filter({_RAW_TOKS}, t -> list_contains({_EN_STOP}, t))) * 1.0
             / len({_RAW_TOKS}), 6) AS en_stopword_ratio,
       round((least(len({_RAW_TOKS}) / 100.0, 1.0)
             + least(len(list_filter({_RAW_TOKS}, t -> list_contains({_EN_STOP}, t))) * 1.0
                     / len({_RAW_TOKS}) * 5.0, 1.0)
             + greatest(0.0, 1.0 - ((length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{{-~]', '', 'g')))
                                     * 1.0 / length(text)) * 4.0)) / 3.0, 6) AS quality,
       md5({_NORM}) AS fp
FROM documents
""")
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    return text.text_stats(cat["documents"])


def _lang_scores_sql() -> dict[str, str]:
    out = {}
    for lang, words in text.STOPWORDS.items():
        lst = "[" + ", ".join(f"'{w}'" for w in words) + "]"
        out[lang] = (
            f"round(len(list_filter({_RAW_TOKS}, t -> list_contains({lst}, t)))"
            f" * 1.0 / len({_RAW_TOKS}), 6)"
        )
    return out


def _lang_id_sql() -> str:
    scores = _lang_scores_sql()
    langs = sorted(scores)
    expr = f"'{langs[0]}'"
    best = scores[langs[0]]
    for lang in langs[1:]:
        expr = f"CASE WHEN {scores[lang]} > {best} THEN '{lang}' ELSE {expr} END"
        best = f"greatest({best}, {scores[lang]})"
    return expr


@register("lang_id", oracle=f"""
SELECT lang, {_lang_id_sql()} AS guessed, count(*) AS n_docs
FROM documents GROUP BY 1, 2
""")
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: labeled lang × heuristic guess."""
    cat = Catalog(spark, sf_dir)
    docs = cat["documents"].select("lang", text.lang_id(F.col("text")).alias("guessed"))
    return docs.groupBy("lang", "guessed").agg(F.count(F.lit(1)).alias("n_docs"))


_TOKS = f"string_split_regex(trim({_NORM}), '\\s+')"


@register("text_tokenize_bpe", oracle=r"""
SELECT doc_id,
       len(string_split_regex(trim(text), '\s+')) AS n_ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens,
       round(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) * 1.0
             / len(string_split_regex(trim(text), '\s+')), 6) AS fertility
FROM documents
""")
def q_text_tokenize_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style pre-tokenizer counts vs whitespace tokens (fertility)."""
    cat = Catalog(spark, sf_dir)
    t = F.col("text")
    return cat["documents"].select(
        "doc_id",
        text.token_count(t).alias("n_ws_tokens"),
        text.bpe_token_count(t).alias("n_bpe_tokens"),
        F.round(text.bpe_token_count(t) / text.token_count(t), 6).alias("fertility"),
    )


@register("udtf_sentence_split", oracle="""
WITH s AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(text, '.'),
                                    x -> trim(x, ' ' || chr(9) || chr(10) || chr(13))),
                     x -> x <> '') AS l
  FROM documents)
SELECT doc_id,
       CAST(i AS INT) AS sentence_idx,
       l[CAST(i AS INT)] AS sentence
FROM s, unnest(range(1, len(l) + 1)) AS t(i)
""")
def q_udtf_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (lateral join) exploding documents into sentences."""
    from rdbms_subsetter_spark.functions import sentence_split_udtf

    cat = Catalog(spark, sf_dir)
    return sentence_split_udtf(cat["documents"])


@register("docpipe_quality_filter", oracle=f"""
WITH scored AS (
  SELECT doc_id, lang, n_chars,
         round((least(len({_RAW_TOKS}) / 100.0, 1.0)
               + least(len(list_filter({_RAW_TOKS}, t -> list_contains({_EN_STOP}, t))) * 1.0
                       / len({_RAW_TOKS}) * 5.0, 1.0)
               + greatest(0.0, 1.0 - ((length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{{-~]', '', 'g')))
                                       * 1.0 / length(text)) * 4.0)) / 3.0, 6) AS quality,
         md5({_NORM}) AS fp
  FROM documents),
kept AS (SELECT * FROM scored WHERE lang = 'en' AND quality >= 0.5)
SELECT doc_id, lang, n_chars, quality FROM (
  SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM kept)
WHERE rn = 1
""")
def q_docpipe_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data pipeline: language filter → quality
    scoring → exact dedup (keep lowest doc_id per fingerprint).

    The composition a 100 TB pretraining-corpus job actually runs; all
    scoring is codegen expressions, the only shuffle is the dedup
    window on the fingerprint."""
    cat = Catalog(spark, sf_dir)
    t = F.col("text")
    scored = cat["documents"].select(
        "doc_id",
        "lang",
        "n_chars",
        text.quality_score(t).alias("quality"),
        text.fingerprint(t).alias("fp"),
    )
    kept = scored.filter((F.col("lang") == "en") & (F.col("quality") >= 0.5))
    w = Window.partitionBy("fp").orderBy("doc_id")
    return (
        kept.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "n_chars", "quality")
    )


@register("doc_chunk_windows", oracle=f"""
WITH t AS (SELECT doc_id, {_RAW_TOKS} AS l FROM documents)
SELECT doc_id,
       CAST(s // 40 AS INT) AS chunk_idx,
       CAST(len(list_slice(l, CAST(s + 1 AS INT), CAST(s + 50 AS INT))) AS INT) AS n_chunk_tokens,
       array_to_string(list_slice(l, CAST(s + 1 AS INT), CAST(s + 50 AS INT)), ' ') AS chunk_text
FROM t, unnest(range(0, greatest(len(l), 1), 40)) AS u(s)
""")
def q_doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking of documents (50-token chunks,
    stride 40) — the corpus → training-example expansion step."""
    cat = Catalog(spark, sf_dir)
    return text.chunk_windows(cat["documents"], chunk_tokens=50, stride=40)


@register("doc_pack_sequences", oracle=f"""
SELECT doc_id, n_tok,
       CAST(floor((cum - n_tok) * 1.0 / 512) AS INT) AS bin_id
FROM (SELECT doc_id, len({_RAW_TOKS}) AS n_tok,
             sum(len({_RAW_TOKS})) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM documents)
""")
def q_doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing into 512-token context bins via distributed
    two-pass prefix sum (range partitions + broadcast offsets) — the
    oracle's single global window proves the distributed cumsum exact."""
    cat = Catalog(spark, sf_dir)
    return text.pack_sequences(cat["documents"], capacity=512)


# ---------------------------------------------------------------------------
# corpus repetition quality (Gopher-style signal)
# ---------------------------------------------------------------------------


@register("text_repetition_ngrams", oracle="""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
),
t AS (
  SELECT doc_id,
         list_transform(range(1, len(words) - 1),
                        i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]) AS tri
  FROM w WHERE len(words) >= 3
)
SELECT doc_id,
       len(tri) AS n_tri,
       len(list_distinct(tri)) AS n_uniq,
       round(1 - len(list_distinct(tri)) / len(tri), 4) AS rep_frac
FROM t
""")
def q_text_repetition_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signal for corpus curation: per document, the
    fraction of duplicate word trigrams (Gopher-style 'repeated n-gram'
    filter). All array work is JVM-side higher-order functions
    (transform/sequence/array_distinct) inside whole-stage codegen — no
    Python UDF, no shuffle (scan -> project -> filter only).

    Staged through projections so the split array and the trigram array
    are each materialized ONCE per row: codegen does not CSE higher-order
    lambdas, and referencing `tri` N times in one select re-builds the
    whole array N times (same lesson as operators/similarity.quantize_int8,
    measured 0.99->0.21 s there)."""
    cat = Catalog(spark, sf_dir)
    words = F.col("__w")
    # short-doc guard: sequence(1, 0) DESCENDS in Spark and would index
    # element_at(words, 0), which throws
    tri = F.when(
        F.size(words) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(words, i),
                F.element_at(words, i + 1),
                F.element_at(words, i + 2),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        cat["documents"]
        .select("doc_id", F.split(F.col("text"), " ").alias("__w"))
        .filter(F.size("__w") >= 3)
        .select("doc_id", tri.alias("__tri"))
        .select(
            "doc_id",
            F.size("__tri").alias("n_tri"),
            F.size(F.array_distinct("__tri")).alias("n_uniq"),
        )
        .select(
            "doc_id",
            "n_tri",
            "n_uniq",
            F.round(F.lit(1) - F.col("n_uniq") / F.col("n_tri"), 4).alias(
                "rep_frac"
            ),
        )
    )


# per-language target keep-rates for the mixture (basis points so the
# comparison against the hash bucket is exact integer arithmetic)
_MIX_BPS = {"en": 9000, "de": 6000, "fr": 6000, "es": 4000, "zh": 3000}
# the same rate lookup and md5 bucket as DuckDB expressions, for the oracle
_MIX_RATE_CASE_SQL = "CASE lang " + " ".join(
    f"WHEN '{lang}' THEN {bps}" for lang, bps in _MIX_BPS.items()
) + " ELSE 2000 END"
_MIX_BUCKET_SQL = (
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000"
)


def _hash_bucket(col):
    """Deterministic uniform bucket in [0, 10000) from md5 of the key —
    bit-identical in Spark and DuckDB (engine-portable md5 convention,
    see dedup._portable_hash)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast(
        "long"
    ) % 10000


@register("mixture_weighted_sample", oracle=f"""
WITH flagged AS (
  SELECT lang, n_chars,
         CASE WHEN {_MIX_BUCKET_SQL} < {_MIX_RATE_CASE_SQL} THEN 1 ELSE 0 END AS keep
  FROM documents)
SELECT lang,
       count(*) AS n_total,
       CAST(sum(keep) AS BIGINT) AS n_kept,
       round(sum(keep) * 1.0 / count(*), 4) AS rate_realized,
       CAST(sum(keep * n_chars) AS BIGINT) AS chars_kept
FROM flagged GROUP BY lang
""")
def q_mixture_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-mixture construction: per-language weighted Bernoulli
    sampling with a DETERMINISTIC hash of the key (md5 bucket < rate),
    not ``rand()``.  That determinism is the production property: the
    kept set is reproducible across engines, retries, and repartitions
    — speculative task re-execution cannot change the sample, and a
    resumed 100 TB run keeps exactly the rows it kept before.  One
    scan, no shuffle before the final tiny per-lang aggregate; the
    rate lookup is a literal CASE so it stays inside codegen."""
    cat = Catalog(spark, sf_dir)
    docs = cat["documents"]
    rate = F.lit(None).cast("long")
    expr = None
    for lang, bps in _MIX_BPS.items():
        expr = (
            F.when(F.col("lang") == lang, F.lit(bps))
            if expr is None
            else expr.when(F.col("lang") == lang, F.lit(bps))
        )
    rate = expr.otherwise(F.lit(2000))
    keep = (_hash_bucket(F.col("doc_id")) < rate).cast("int")
    return (
        docs.select("lang", "n_chars", keep.alias("keep"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("keep").alias("n_kept"),
            F.round(F.sum("keep") / F.count(F.lit(1)), 4).alias("rate_realized"),
            F.sum(F.col("keep") * F.col("n_chars")).alias("chars_kept"),
        )
    )


# BM25 constants (standard Robertson/Sparck-Jones defaults)
_K1 = 1.2
_B = 0.75
_BM25_TERMS = ["spark", "query", "window"]


# ``ln`` may differ in the last ulp between libm and the JVM, hence BM25
# rounds to 4 decimals and breaks top-k ties on doc_id.
_SQL_TFIDF_BM25 = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), dl AS (
  SELECT doc_id, count(*) AS dlen FROM toks GROUP BY 1
), stats AS (
  SELECT count(*) AS n_docs, avg(dlen) AS avgdl FROM dl
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks
  WHERE term IN ('spark', 'query', 'window') GROUP BY 1, 2
), df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM toks
  WHERE term IN ('spark', 'query', 'window') GROUP BY 1
)
SELECT doc_id,
       round(sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                 * tf * (1.2 + 1.0)
                 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dlen / avgdl))), 4) AS bm25
FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
GROUP BY doc_id
ORDER BY bm25 DESC, doc_id
LIMIT 20
"""


@register("tfidf_bm25", oracle=_SQL_TFIDF_BM25)
def q_tfidf_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance of every document against a fixed query-term set,
    top 20.  The inverted-index statistics (tf, df, dl, avgdl) are all
    DataFrame aggregates over one tokenization pass; the per-term df
    table is tiny and broadcast.  At 100 TB the tokens relation is never
    materialized — tf and dl reduce it map-side within the same shuffle,
    and df is a countDistinct over the query terms only (filter first,
    then aggregate)."""
    cat = Catalog(spark, sf_dir)
    toks = cat["documents"].select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dlen"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dlen").alias("avgdl")
    )
    qtoks = toks.filter(F.col("term").isin(_BM25_TERMS))
    tf = qtoks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = qtoks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    score = idf * (
        F.col("tf")
        * (_K1 + 1.0)
        / (F.col("tf") + _K1 * (1.0 - _B + _B * F.col("dlen") / F.col("avgdl")))
    )
    return (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(score), 4).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col("doc_id"))
        .limit(20)
    )


_SQL_MIXTURE_TEMPERATURE = """
WITH counts AS (
  SELECT lang, count(*) AS c_l FROM documents GROUP BY lang
), rates AS (
  SELECT lang, c_l,
         CAST(floor(pow(CAST((SELECT min(c_l) FROM counts) AS DOUBLE) / c_l,
                        0.3) * 10000) AS BIGINT) AS rate_bps
  FROM counts
)
SELECT lang, max(rate_bps) AS rate_bps, max(c_l) AS n_total,
       CAST(sum(CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                         AS BIGINT) % 10000 < rate_bps
                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM documents JOIN rates USING (lang)
GROUP BY lang
"""


@register("mixture_temperature_sample", oracle=_SQL_MIXTURE_TEMPERATURE)
def q_mixture_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture reweighting (t=0.7): per-language keep
    rate (c_min/c_l)^(1-t) — the standard multilingual upsampling curve,
    rate 1.0 for the smallest language, decaying for high-resource ones.
    Membership is the deterministic md5-bucket Bernoulli (same portable
    convention as mixture_weighted_sample), so the kept set is stable
    under retries, repartitions, and engine changes.  Two tiny aggregates
    + one broadcast join back to the scan: one pass over documents."""
    cat = Catalog(spark, sf_dir)
    docs = cat["documents"]
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("c_l"))
    cmin = counts.agg(F.min("c_l").alias("c_min"))
    rates = counts.crossJoin(F.broadcast(cmin)).select(
        "lang",
        "c_l",
        F.floor(
            F.pow(F.col("c_min") / F.col("c_l"), F.lit(0.3)) * 10000
        ).cast("long").alias("rate_bps"),
    )
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long") % 10000
    return (
        docs.join(F.broadcast(rates), "lang")
        .select("lang", "c_l", "rate_bps", (bucket < F.col("rate_bps")).cast("long").alias("keep"))
        .groupBy("lang")
        .agg(
            F.max("rate_bps").alias("rate_bps"),
            F.max("c_l").alias("n_total"),
            F.sum("keep").alias("n_kept"),
        )
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------


def _augmented_text() -> F.Column:
    """documents.text is synthetic word-salad with no PII, so the graded
    query plants deterministic doc_id-derived PII (an email, a phone, an
    IPv4, and a second email on every third doc) before scrubbing — the
    operator itself is general."""
    did = F.col("doc_id").cast("string")
    return F.concat(
        F.col("text"),
        F.lit(" contact user"),
        did,
        F.lit("@example.com ph 555-"),
        F.lpad(F.pmod(F.col("doc_id"), 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad(F.pmod(F.col("doc_id"), 10000).cast("string"), 4, "0"),
        F.lit(" ip 10.0."),
        F.pmod(F.col("doc_id"), 256).cast("string"),
        F.lit(".7"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(" cc admin"), did, F.lit("@corp.example.org")),
        ).otherwise(F.lit("")),
    )


_PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


_AUG_SQL = (
    "text || ' contact user' || doc_id || '@example.com ph 555-' "
    "|| lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' "
    "|| lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') "
    "|| ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' "
    "|| CASE WHEN doc_id % 3 = 0 "
    "        THEN ' cc admin' || doc_id || '@corp.example.org' ELSE '' END"
)

_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\b\d{3}[- ]\d{3}[- ]?\d{4}\b"


_SQL_PII_REDACT = f"""
WITH aug AS (SELECT doc_id, {_AUG_SQL} AS t FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS INT) AS n_email,
       CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS INT) AS n_phone,
       CAST(len(regexp_extract_all(t, '{_PII_IPV4}')) AS INT) AS n_ipv4,
       md5(regexp_replace(regexp_replace(regexp_replace(t,
             '{_PII_EMAIL}', '[EMAIL]', 'g'),
             '{_PII_PHONE}', '[PHONE]', 'g'),
             '{_PII_IPV4}', '[IPV4]', 'g')) AS redacted_md5,
       CAST(length(regexp_replace(regexp_replace(regexp_replace(t,
             '{_PII_EMAIL}', '[EMAIL]', 'g'),
             '{_PII_PHONE}', '[PHONE]', 'g'),
             '{_PII_IPV4}', '[IPV4]', 'g')) AS INT) AS redacted_len
FROM aug
"""


@register("pii_redact", oracle=_SQL_PII_REDACT)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub + audit counts over documents (emails / phones / IPv4
    placed deterministically from doc_id).  Redacted text is reported as
    md5 + length so the full scrubbed string is hash-verified without
    shipping megabyte rows through the grader."""
    cat = Catalog(spark, sf_dir)
    aug = cat["documents"].select("doc_id", _augmented_text().alias("text"))
    red = text.redact_pii(aug)
    return red.select(
        "doc_id",
        F.col("n_email").cast("int").alias("n_email"),
        F.col("n_phone").cast("int").alias("n_phone"),
        F.col("n_ipv4").cast("int").alias("n_ipv4"),
        F.md5("text_redacted").alias("redacted_md5"),
        F.length("text_redacted").alias("redacted_len"),
    )


_SQL_SHARD_ASSIGNMENT = """
WITH h AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5('42|' || doc_id), 1, 15)) AS BIGINT) AS sort_key
  FROM documents)
SELECT doc_id,
       CAST(sort_key % 8 AS INT) AS shard,
       CAST(row_number() OVER (PARTITION BY sort_key % 8
                               ORDER BY sort_key, doc_id) AS INT) AS position
FROM h
"""


# ---------------------------------------------------------------------------
# Deterministic shard assignment (resumable data-loader order)
# ---------------------------------------------------------------------------


@register("shard_assignment", oracle=_SQL_SHARD_ASSIGNMENT)
def q_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    return partitioning.shard_assignment(
        cat["documents"].select("doc_id"), "doc_id", n_shards=8, seed=42
    ).select("doc_id", "shard", "position")


_SQL_CURATION_FUNNEL = f"""
WITH flagged AS (
  SELECT (lang = 'en') AS s1,
         round((least(len({_RAW_TOKS}) / 100.0, 1.0)
               + least(len(list_filter({_RAW_TOKS}, t -> list_contains({_EN_STOP}, t))) * 1.0
                       / len({_RAW_TOKS}) * 5.0, 1.0)
               + greatest(0.0, 1.0 - ((length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{{-~]', '', 'g')))
                                       * 1.0 / length(text)) * 4.0)) / 3.0, 6) AS q,
         len({_RAW_TOKS}) AS n_tok,
         md5({_NORM}) AS fp
  FROM documents)
SELECT count(*) AS n_total,
       CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
       CAST(sum(CASE WHEN s1 AND q >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       CAST(sum(CASE WHEN s1 AND q >= 0.5 AND n_tok BETWEEN 20 AND 1000 THEN 1 ELSE 0 END) AS BIGINT) AS n_length,
       count(DISTINCT CASE WHEN s1 AND q >= 0.5 AND n_tok BETWEEN 20 AND 1000 THEN fp END) AS n_dedup
FROM flagged
"""


# ---------------------------------------------------------------------------
# Curation funnel: the full corpus-filtering report in one aggregate
# ---------------------------------------------------------------------------


@register("curation_funnel", oracle=_SQL_CURATION_FUNNEL)
def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage retention of the pretraining curation chain — total →
    lang filter → quality filter → length band → exact-dedup — computed
    in ONE scan + one aggregate: each stage is a cumulative boolean
    flag, and the dedup stage is count(DISTINCT fingerprint) over the
    final survivors (no second pass, no window)."""
    cat = Catalog(spark, sf_dir)
    t = F.col("text")
    flagged = cat["documents"].select(
        (F.col("lang") == "en").alias("s1"),
        text.quality_score(t).alias("q"),
        text.token_count(t).alias("n_tok"),
        text.fingerprint(t).alias("fp"),
    )
    s2 = F.col("s1") & (F.col("q") >= 0.5)
    s3 = s2 & F.col("n_tok").between(20, 1000)
    return flagged.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.col("s1").cast("long")).alias("n_lang"),
        F.sum(s2.cast("long")).alias("n_quality"),
        F.sum(s3.cast("long")).alias("n_length"),
        F.count_distinct(F.when(s3, F.col("fp"))).alias("n_dedup"),
    )


_SQL_GOPHER_RULES = f"""
WITH d AS (
  SELECT doc_id,
         len({_RAW_TOKS}) AS n_tok,
         length(regexp_replace(text, '\\s+', '', 'g')) * 1.0 / len({_RAW_TOKS}) AS mean_len,
         len(list_filter({_RAW_TOKS}, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0
             / len({_RAW_TOKS}) AS alpha_frac,
         len(list_filter({_RAW_TOKS}, x -> list_contains({_EN_STOP}, x))) AS n_stop
  FROM documents)
SELECT doc_id,
       CAST(n_tok AS INT) AS n_tok,
       round(mean_len, 6) AS mean_word_len,
       round(alpha_frac, 6) AS alpha_frac,
       CAST(n_stop AS INT) AS n_stop,
       CAST(n_tok BETWEEN 50 AND 100000 AS INT) AS ok_len,
       CAST(mean_len BETWEEN 3.0 AND 10.0 AS INT) AS ok_word_len,
       CAST(alpha_frac >= 0.8 AS INT) AS ok_alpha,
       CAST(n_stop >= 2 AS INT) AS ok_stop,
       CAST((n_tok BETWEEN 50 AND 100000) AND (mean_len BETWEEN 3.0 AND 10.0)
            AND alpha_frac >= 0.8 AND n_stop >= 2 AS INT) AS pass_all
FROM d
"""


# ---------------------------------------------------------------------------
# Gopher-style quality rule battery
# ---------------------------------------------------------------------------


@register("docpipe_gopher_rules", oracle=_SQL_GOPHER_RULES)
def q_docpipe_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-battery document filter in the Gopher/C4 style: token-count
    band, mean-word-length band, alphabetic-token fraction, stopword
    floor — each rule reported per document plus the conjunction.  One
    scan, all column expressions; at 100 TB this is an embarrassingly
    parallel map with zero shuffles (the output is written, not
    aggregated)."""
    cat = Catalog(spark, sf_dir)
    t = F.col("text")
    toks = text.tokens(t)
    n_tok = F.size(toks)
    mean_len = F.length(F.regexp_replace(t, r"\s+", "")) / n_tok
    alpha_frac = F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]"))) / n_tok
    arr = F.array(*[F.lit(w) for w in text.STOPWORDS["en"]])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(arr, x)))
    ok_len = n_tok.between(50, 100000)
    ok_word = (mean_len >= 3.0) & (mean_len <= 10.0)
    ok_alpha = alpha_frac >= 0.8
    ok_stop = n_stop >= 2
    return cat["documents"].select(
        "doc_id",
        n_tok.cast("int").alias("n_tok"),
        F.round(mean_len, 6).alias("mean_word_len"),
        F.round(alpha_frac, 6).alias("alpha_frac"),
        n_stop.cast("int").alias("n_stop"),
        ok_len.cast("int").alias("ok_len"),
        ok_word.cast("int").alias("ok_word_len"),
        ok_alpha.cast("int").alias("ok_alpha"),
        ok_stop.cast("int").alias("ok_stop"),
        (ok_len & ok_word & ok_alpha & ok_stop).cast("int").alias("pass_all"),
    )


# ---------------------------------------------------------------------------
# Reproducible train/valid/test split (row-hash and group-aware modes)
# ---------------------------------------------------------------------------

_SPLIT_SEED = 7


# shared with the curate pipeline CLI (partitioning.split_assignment)
_portable_pct = partitioning.portable_pct


def _pct_sql(expr: str, seed: int) -> str:
    return f"CAST(('0x' || substr(md5('{seed}|' || {expr}), 1, 15)) AS BIGINT) % 100"


_SQL_SPLIT = f"""
WITH row_mode AS (
  SELECT CASE WHEN {_pct_sql('doc_id', _SPLIT_SEED)} < 90 THEN 'train'
              WHEN {_pct_sql('doc_id', _SPLIT_SEED)} < 95 THEN 'valid'
              ELSE 'test' END AS split, source
  FROM documents),
grp_mode AS (
  SELECT CASE WHEN {_pct_sql('source', _SPLIT_SEED)} < 90 THEN 'train'
              WHEN {_pct_sql('source', _SPLIT_SEED)} < 95 THEN 'valid'
              ELSE 'test' END AS split, source
  FROM documents)
SELECT 'row' AS mode, split, count(*) AS n_docs, count(DISTINCT source) AS n_sources
FROM row_mode GROUP BY split
UNION ALL
SELECT 'group' AS mode, split, count(*) AS n_docs, count(DISTINCT source) AS n_sources
FROM grp_mode GROUP BY split
"""


@register("split_train_valid_test", oracle=_SQL_SPLIT)
def q_split_train_valid_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 corpus split, two assignment modes reported
    side by side: ``row`` (hash of doc_id — iid) and ``group`` (hash of
    source — leakage-safe: every doc from one domain lands in the same
    split, the standard guard against train/test contamination via
    near-duplicate pages from one site).  Output is the per-mode
    per-split audit: doc count and distinct-source count.

    Scale shape: one scan, two cheap aggregates over 3-row groups —
    the split column itself would be written alongside the data."""
    cat = Catalog(spark, sf_dir)
    docs = cat["documents"]

    def splits(pct: F.Column) -> F.Column:
        return (
            F.when(pct < 90, F.lit("train"))
            .when(pct < 95, F.lit("valid"))
            .otherwise(F.lit("test"))
        )

    by_row = (
        docs.select(
            splits(_portable_pct(F.col("doc_id"), _SPLIT_SEED)).alias("split"), "source"
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("source").alias("n_sources"),
        )
        .select(F.lit("row").alias("mode"), "split", "n_docs", "n_sources")
    )
    by_group = (
        docs.select(
            splits(_portable_pct(F.col("source"), _SPLIT_SEED)).alias("split"), "source"
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("source").alias("n_sources"),
        )
        .select(F.lit("group").alias("mode"), "split", "n_docs", "n_sources")
    )
    return by_row.unionByName(by_group)


_SQL_HEAVY_HITTERS = f"""
SELECT token, count(*) AS n_occurrences
FROM (SELECT unnest({_RAW_TOKS}) AS token FROM documents)
GROUP BY token
ORDER BY n_occurrences DESC, token
LIMIT 20
"""


# ---------------------------------------------------------------------------
# Heavy hitters: exact global top-k tokens
# ---------------------------------------------------------------------------


@register("heavy_hitters_tokens", oracle=_SQL_HEAVY_HITTERS)
def q_heavy_hitters_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-20 most frequent tokens corpus-wide.  explode →
    groupBy(token) → TakeOrderedAndProject: the groupBy gets map-side
    partial aggregation for free (token domain ≪ token occurrences), and
    the final top-k is a per-partition heap + driver merge of 20-row
    heaps, never a global sort.  This is the exact twin of the
    count-min-sketch heavy-hitters in ``agg_approx_sketches``."""
    cat = Catalog(spark, sf_dir)
    return (
        cat["documents"]
        .select(F.explode(text.tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "token")
        .limit(20)
    )


_SQL_TOKEN_HISTOGRAM = f"""
SELECT CAST((len({_RAW_TOKS}) // 32) * 32 AS INT) AS bucket_lo,
       count(*) AS n_docs,
       round(avg(n_chars), 4) AS avg_chars
FROM documents
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Token-length histogram
# ---------------------------------------------------------------------------


@register("token_length_histogram", oracle=_SQL_TOKEN_HISTOGRAM)
def q_token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width (32-token) histogram of document lengths with mean
    chars per bucket — the length-distribution report every corpus audit
    starts with.  One scan + one tiny-domain aggregate."""
    cat = Catalog(spark, sf_dir)
    n_tok = text.token_count(F.col("text"))
    return (
        cat["documents"]
        .select(
            (F.floor(n_tok / 32) * 32).cast("int").alias("bucket_lo"),
            F.col("n_chars"),
        )
        .groupBy("bucket_lo")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
    )


_SQL_LM_SCORE = f"""
WITH toks AS (SELECT doc_id, {_RAW_TOKS} AS t FROM documents),
pos AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(t) - 1, 0)),
                               i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS b
  FROM toks),
flat AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM pos),
scored AS (
  SELECT doc_id,
         ln(CAST(count(*) OVER (PARTITION BY w1, w2) AS DOUBLE)
            / CAST(count(*) OVER (PARTITION BY w1) AS DOUBLE)) AS lp
  FROM flat)
SELECT doc_id, count(*) AS n_bigrams, round(avg(lp), 4) AS avg_logprob
FROM scored
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Bigram LM quality score
# ---------------------------------------------------------------------------


@register("quality_lm_score", oracle=_SQL_LM_SCORE)
def q_quality_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average bigram log-likelihood under the corpus's own
    bigram MLE model: score(d) = mean over bigrams (w1,w2) of
    ln( C(w1,w2) / C(w1·) ), where C(w1·) counts w1 in first-of-bigram
    position.  Low scores mark repetitive-structure or out-of-domain
    documents — the KenLM/CCNet perplexity-filter shape without an
    external model artifact.

    Scale shape: the corpus is exploded into bigram positions ONCE; the
    model is the (w1,w2)-count table, reduced by a map-side-combined
    hash aggregate (shuffle volume = |bigram vocab|, not positions) —
    a window-over-positions formulation was measured 5× slower at sf0.1
    because it sorts every position twice.  The conditional denominator
    C(w1·) folds out of the bigram table itself (no second corpus
    pass), and the tiny model joins back by broadcast; with a web-scale
    vocabulary AQE falls back to a shuffle join on the same plan.  No
    driver-side model materialization either way."""
    cat = Catalog(spark, sf_dir)
    # stage the token array through a projection: lambdas are not
    # common-subexpression-eliminated, so element_at(tokens(text), i)
    # would re-run the split per element access (the quantize_int8
    # lesson — O(doc_len²) per doc)
    staged = cat["documents"].select(
        "doc_id", text.tokens(F.col("text")).alias("__t")
    )
    toks = F.col("__t")
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.struct(
                F.element_at(toks, i).alias("w1"),
                F.element_at(toks, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    pos = (
        staged.select("doc_id", F.explode(bigrams).alias("b"))
        .select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        # two consumers (model fit + scoring join): materialize the
        # explode once, same discipline as ngram_jaccard_pairs
        .localCheckpoint(eager=True)
    )
    bi = pos.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_bi"))
    # C(w1·) = times w1 is followed by anything = sum of its bigram rows
    uni = bi.groupBy("w1").agg(F.sum("c_bi").alias("c_first"))
    model = bi.join(uni, "w1").select(
        "w1",
        "w2",
        F.log(F.col("c_bi").cast("double") / F.col("c_first").cast("double")).alias(
            "lp"
        ),
    )
    scored = pos.join(F.broadcast(model), ["w1", "w2"])
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("lp"), 4).alias("avg_logprob"),
    )


# ---------------------------------------------------------------------------
# DSIR importance weights
# ---------------------------------------------------------------------------

_DSIR_BUCKETS = 64
_DSIR_SEED = 11


def _bucket(col: F.Column) -> F.Column:
    """Portable md5-derived feature bucket (cross-engine identical)."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{_DSIR_SEED}|"), col)), 1, 15), 16, 10
    ).cast("long")
    return F.pmod(h, F.lit(_DSIR_BUCKETS))


_BUCKET_SQL = (
    f"CAST(('0x' || substr(md5('{_DSIR_SEED}|' || tok), 1, 15)) AS BIGINT) "
    f"% {_DSIR_BUCKETS}"
)


_SQL_DSIR = f"""
WITH toks AS (
  SELECT doc_id, lang, {_BUCKET_SQL} AS b
  FROM (SELECT doc_id, lang, unnest({_RAW_TOKS}) AS tok FROM documents)),
dist AS (
  SELECT b, count(*) AS n_src,
         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_tgt
  FROM toks GROUP BY b),
probs AS (
  SELECT b,
         (n_tgt + 1) * 1.0 / (sum(n_tgt) OVER () + {_DSIR_BUCKETS}) AS p_tgt,
         (n_src + 1) * 1.0 / (sum(n_src) OVER () + {_DSIR_BUCKETS}) AS p_src
  FROM dist)
SELECT doc_id, count(*) AS n_tok,
       round(avg(ln(p_tgt / p_src)), 4) AS dsir_logweight
FROM toks JOIN probs USING (b)
GROUP BY doc_id
"""


@register("mixture_dsir_weights", oracle=_SQL_DSIR)
def q_mixture_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights: hashed-unigram features (64
    buckets), target distribution = English documents, source = whole
    corpus; each document's raw log-weight is the mean over its tokens
    of ln( p_target(bucket) / p_source(bucket) ) with add-one smoothing.
    High weight ⇒ the document looks like the target domain — sampling
    by these weights is importance resampling toward the target.

    Scale shape: the 64-row smoothed distribution table aggregates once
    over the exploded token stream and BROADCASTS back onto it; the
    stream itself is shuffled only for the final per-doc re-group.  The
    'model' is 64 rows regardless of corpus size — this is exactly why
    hashed features scale where raw-vocabulary features don't."""
    cat = Catalog(spark, sf_dir)
    docs = cat["documents"]
    toks = (
        docs.select("doc_id", "lang", F.explode(text.tokens(F.col("text"))).alias("tok"))
        .select("doc_id", "lang", _bucket(F.col("tok")).alias("b"))
    )
    dist = toks.groupBy("b").agg(
        F.count(F.lit(1)).alias("n_src"),
        F.sum((F.col("lang") == "en").cast("long")).alias("n_tgt"),
    )
    # totals via a window over the 64-row dist frame (a 1-row-aggregate
    # cross join would plan a BroadcastNestedLoopJoin for nothing)
    w_all = Window.partitionBy()
    probs = dist.select(
        "b",
        (
            (F.col("n_tgt") + 1) / (F.sum("n_tgt").over(w_all) + _DSIR_BUCKETS)
        ).alias("p_tgt"),
        (
            (F.col("n_src") + 1) / (F.sum("n_src").over(w_all) + _DSIR_BUCKETS)
        ).alias("p_src"),
    )
    weighted = toks.join(F.broadcast(probs), "b").select(
        "doc_id", F.log(F.col("p_tgt") / F.col("p_src")).alias("lr")
    )
    return weighted.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.round(F.avg("lr"), 4).alias("dsir_logweight"),
    )


_SQL_TOKEN_ENTROPY = f"""
WITH counts AS (
  SELECT doc_id, tok, count(*) AS c
  FROM (SELECT doc_id, unnest({_RAW_TOKS}) AS tok FROM documents)
  GROUP BY doc_id, tok)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_tok,
       count(*) AS n_unique,
       round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 4) AS token_entropy
FROM counts
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Token-level Shannon entropy
# ---------------------------------------------------------------------------


@register("text_token_entropy", oracle=_SQL_TOKEN_ENTROPY)
def q_text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token Shannon entropy H = log2(n) − (Σ c·log2 c)/n —
    the repetition/diversity signal complementary to the trigram
    repetition ratio (low entropy = boilerplate or degenerate loops,
    high = diverse vocabulary).  One explode + two groupBys, both keyed
    by doc (the (doc, token) pre-aggregation bounds the second shuffle
    by unique-tokens-per-doc)."""
    cat = Catalog(spark, sf_dir)
    counts = (
        cat["documents"]
        .select("doc_id", F.explode(text.tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_tok"),
        F.count(F.lit(1)).alias("n_unique"),
        F.round(
            F.log2(F.sum("c")) - F.sum(F.col("c") * F.log2("c")) / F.sum("c"), 4
        ).alias("token_entropy"),
    )


# ---------------------------------------------------------------------------
# Per-document TF-IDF keywords
# ---------------------------------------------------------------------------

_KW_K = 3


_SQL_DOC_KEYWORDS = f"""
WITH tf AS (
  SELECT doc_id, tok, count(*) AS tf
  FROM (SELECT doc_id, unnest({_RAW_TOKS}) AS tok FROM documents)
  GROUP BY doc_id, tok),
df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
scored AS (
  SELECT doc_id, tok,
         round(tf * ln((SELECT count(*) FROM documents) * 1.0 / df), 9) AS tfidf
  FROM tf JOIN df USING (tok))
SELECT doc_id, CAST(rnk AS INT) AS rnk, tok AS keyword, round(tfidf, 4) AS tfidf
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, tok) AS rnk
      FROM scored)
WHERE rnk <= {_KW_K}
"""


@register("doc_keywords_tfidf", oracle=_SQL_DOC_KEYWORDS)
def q_doc_keywords_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document — the metadata-enrichment step
    of a corpus pipeline (per-doc topical tags from corpus statistics
    alone).  tf = in-doc count, idf = ln(N/df) with df from the SAME
    (doc, token) pre-aggregation that feeds tf (one explode, reused);
    N is a bounded driver scalar.  The top-3 window gets
    WindowGroupLimit partial pruning, so at most 3 candidates per doc
    survive to the final shuffle.  Cross-engine ordering ties are
    decided on the ROUNDED score + token, immune to ln() ulp drift."""
    cat = Catalog(spark, sf_dir)
    n_docs = float(cat["documents"].count())
    tf = (
        cat["documents"]
        .select("doc_id", F.explode(text.tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)  # feeds both df and the scored join
    )
    df_counts = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(df_counts, "tok").select(
        "doc_id",
        "tok",
        F.round(F.col("tf") * F.log(F.lit(n_docs) / F.col("df")), 9).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "tok")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _KW_K)
        .select("doc_id", "rnk", F.col("tok").alias("keyword"), F.round("tfidf", 4).alias("tfidf"))
    )


_SQL_PER_SOURCE_CAP = """
SELECT doc_id, source, n_chars, rk FROM (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rk
  FROM documents)
WHERE rk <= 5
"""


@register("docs_per_source_cap", oracle=_SQL_PER_SOURCE_CAP)
def q_docs_per_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap — the crawl-curation rule that stops one
    domain from dominating the mixture: keep at most 5 docs per source,
    preferring longer documents (n_chars desc, doc_id tiebreak).

    Scale shape: one window sort per source partition; Spark's
    WindowGroupLimit pushes the rank<=5 cut into a partial pre-shuffle
    top-k, so the shuffle carries at most 5 rows per (partition, source)
    instead of the whole table."""
    cat = Catalog(spark, sf_dir)
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        cat["documents"]
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("doc_id", "source", "n_chars", "rk")
    )


_SQL_EVAL_BALANCED = """
WITH ranked AS (
  SELECT lang, doc_id, n_chars,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY CAST(('0x' || substr(md5('7|' || CAST(doc_id AS VARCHAR)), 1, 15))
                         AS BIGINT), doc_id) AS rk
  FROM documents)
SELECT lang, count(*) AS n_sampled,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       min(doc_id) AS min_id, max(doc_id) AS max_id
FROM ranked WHERE rk <= 20
GROUP BY lang
"""


@register("eval_balanced_sample", oracle=_SQL_EVAL_BALANCED)
def q_eval_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced eval-set construction: exactly 20 docs per language,
    chosen by a seeded md5 permutation (deterministic across engines and
    runs — re-running the pipeline regenerates the same eval set).
    Returns the per-language summary of the sampled set.

    Scale shape: hash-rank window per language with WindowGroupLimit
    partial pruning — at most 20 candidates per (partition, lang) reach
    the shuffle; no global sort, no driver-side sampling state."""
    cat = Catalog(spark, sf_dir)
    rankkey = F.conv(
        F.substring(F.md5(F.concat(F.lit("7|"), F.col("doc_id").cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    w = Window.partitionBy("lang").orderBy("rk_hash", "doc_id")
    return (
        cat["documents"]
        .select("lang", "doc_id", "n_chars", rankkey.alias("rk_hash"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
    )


_SQL_QUARANTINE = """
WITH r AS ({gopher})
SELECT doc_id,
       CASE WHEN ok_len = 0 THEN 'len_band'
            WHEN ok_word_len = 0 THEN 'word_len_band'
            WHEN ok_alpha = 0 THEN 'alpha_floor'
            WHEN ok_stop = 0 THEN 'stopword_floor' END AS first_failed_rule,
       n_tok, mean_word_len
FROM r WHERE pass_all = 0
"""


def _quarantine_sql() -> str:
    return _SQL_QUARANTINE.format(gopher=_SQL_GOPHER_RULES)


# ---------------------------------------------------------------------------
# Quarantine routing: first-failing-rule attribution in one scan
# ---------------------------------------------------------------------------


@register("dq_quarantine_split", oracle=_quarantine_sql())
def q_dq_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate ROUTING (the write side of docpipe_gopher_rules):
    each failing document is attributed to its FIRST failing rule in a
    fixed severity order — the quarantine bucket a pipeline writes
    rejects into, so triage starts from a single labeled table instead
    of re-running the rule battery.  Emits only quarantined rows
    (doc_id, first_failed_rule, the two cheap metrics triage wants).

    Scale shape: identical to the rule battery — one scan, pure column
    expressions, zero shuffles; the pass side would be the main write
    branch of the same scan (df.where(pass_all))."""
    rules = q_docpipe_gopher_rules(spark, sf_dir)
    first_fail = (
        F.when(F.col("ok_len") == 0, "len_band")
        .when(F.col("ok_word_len") == 0, "word_len_band")
        .when(F.col("ok_alpha") == 0, "alpha_floor")
        .when(F.col("ok_stop") == 0, "stopword_floor")
    )
    return (
        rules.where(F.col("pass_all") == 0)
        .select(
            "doc_id",
            first_fail.alias("first_failed_rule"),
            "n_tok",
            "mean_word_len",
        )
    )


# ---------------------------------------------------------------------------
# Mixture epoch upsampling (replication with fractional remainder)
# ---------------------------------------------------------------------------

_UPSAMPLE_W = {"en": 1.0, "de": 2.5, "fr": 0.5, "es": 1.25, "zh": 2.0}


def _upsample_sql() -> str:
    cases_w = " ".join(
        f"WHEN '{lang}' THEN {wt}" for lang, wt in _UPSAMPLE_W.items()
    )
    return f"""
WITH wdocs AS (
  SELECT doc_id, lang,
         CASE lang {cases_w} END AS w,
         CAST(('0x' || substr(md5('11|' || CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 10000 AS bucket
  FROM documents),
copies AS (
  SELECT doc_id, lang,
         CAST(floor(w) AS INT)
         + CASE WHEN bucket < CAST((w - floor(w)) * 10000 AS BIGINT)
                THEN 1 ELSE 0 END AS n_copies
  FROM wdocs),
emitted AS (
  SELECT doc_id, lang, unnest(generate_series(1, n_copies)) AS epoch_copy
  FROM copies WHERE n_copies > 0)
SELECT lang, count(*) AS n_emitted,
       count(DISTINCT doc_id) AS n_docs,
       round(count(*) * 1.0 / count(DISTINCT doc_id), 4) AS realized_rate
FROM emitted
GROUP BY lang
"""


@register("mixture_epoch_upsample", oracle=_upsample_sql())
def q_mixture_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture UP-sampling — the direction the other mixture operators
    don't cover: a domain weighted w > 1 is replicated floor(w) times
    per epoch plus a deterministic hash-Bernoulli extra copy with
    probability frac(w) (so expected multiplicity is exactly w, and the
    realized copy set is bit-reproducible from (seed, doc_id) alone —
    what a resumable loader needs).  Emitted per language: total
    emitted rows, distinct source docs, realized rate.

    Scale shape: one scan; replication via explode(sequence(1, n)) is
    map-local (a Generate, no shuffle) and the only shuffle is the
    final per-language aggregate."""
    cat = Catalog(spark, sf_dir)
    w = F.lit(None).cast("double")
    for lang, wt in _UPSAMPLE_W.items():
        w = F.when(F.col("lang") == lang, F.lit(wt)).otherwise(w)
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("11|"), F.col("doc_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 10000
    )
    n_copies = (
        F.floor(w).cast("int")
        + (bucket < ((w - F.floor(w)) * 10000).cast("long")).cast("int")
    )
    emitted = (
        cat["documents"]
        .select("doc_id", "lang", n_copies.alias("n_copies"))
        .where(F.col("n_copies") > 0)
        .select("doc_id", "lang", F.explode(F.sequence(F.lit(1), F.col("n_copies"))).alias("epoch_copy"))
    )
    return emitted.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_emitted"),
        F.count_distinct("doc_id").alias("n_docs"),
        F.round(F.count(F.lit(1)) / F.count_distinct("doc_id").cast("double"), 4).alias(
            "realized_rate"
        ),
    )
