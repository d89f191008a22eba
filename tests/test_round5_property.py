"""Round-5 property tests: the two graded operator families that until
now were verified only against DuckDB oracles on fixed datasets get
independent references on ARBITRARY data — the as-of join against
pandas.merge_asof (a third-party implementation of the same semantics)
and the winnowing fingerprint against a pure-Python replica of its
md5/bottom-k math.
"""

from __future__ import annotations

import hashlib
import re

import pandas as pd
from hypothesis import HealthCheck, given, settings, strategies as st

SLOW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# -- as-of join vs pandas.merge_asof ----------------------------------------

_asof_case = st.tuples(
    # left rows: (key, ts)
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),
            st.integers(min_value=0, max_value=50),
        ),
        min_size=1,
        max_size=25,
    ),
    # right rows: (key, ts, payload) — ts deduped per key below, since
    # without a tiebreak equal-ts right rows make the winner unspecified
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),
            st.integers(min_value=0, max_value=50),
            st.integers(min_value=-100, max_value=100),
        ),
        min_size=0,
        max_size=25,
    ),
    st.booleans(),  # strict
)


@SLOW
@given(case=_asof_case)
def test_asof_join_matches_pandas_merge_asof(spark, case):
    left_rows, right_rows, strict = case
    right_dedup = list({(k, t): (k, t, v) for k, t, v in right_rows}.values())
    lpdf = pd.DataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left_rows)],
        columns=["lid", "k", "ts"],
    )
    rpdf = pd.DataFrame(right_dedup, columns=["k", "rts", "rv"])

    from rdbms_subsetter_spark.operators.joins import asof_join

    left = spark.createDataFrame(lpdf, "lid long, k long, ts long")
    right = (
        spark.createDataFrame(rpdf, "k long, rts long, rv long")
        if len(rpdf)
        else spark.createDataFrame([], "k long, rts long, rv long")
    )
    got = {
        r["lid"]: r["rv"]
        for r in asof_join(
            left, right, on=[("k", "k")], left_ts="ts", right_ts="rts",
            payload=["rv"], strict=strict,
        ).collect()
    }

    if len(rpdf):
        merged = pd.merge_asof(
            lpdf.sort_values(["ts", "lid"]),
            rpdf.sort_values("rts"),
            left_on="ts",
            right_on="rts",
            by="k",
            direction="backward",
            allow_exact_matches=not strict,
        )
        want = {
            int(row.lid): (None if pd.isna(row.rv) else int(row.rv))
            for row in merged.itertuples()
        }
    else:
        want = {int(row.lid): None for row in lpdf.itertuples()}
    assert got == want


# -- winnowing fingerprint vs pure-python replica ----------------------------

_WORD = st.text(
    alphabet="ab1.!xyz",  # letters, a digit, punctuation the normalizer strips
    min_size=1,
    max_size=4,
)
_DOC = st.lists(_WORD, min_size=0, max_size=12).map(" ".join)


def _py_winnow(text: str, n: int = 3, k: int = 4):
    """Pure-python replica of operators/text.normalize + dedup.shingles
    + dedup.winnow_fingerprints: lowercase, strip ASCII punctuation,
    collapse whitespace, distinct word n-grams, md5[:15 hex] as long,
    (count, min, sorted bottom-k)."""
    t = text.lower()
    t = re.sub(r"[!-/:-@\[-`{-~]", " ", t)
    t = re.sub(r"\s+", " ", t).strip()
    toks = t.split(" ")  # "" -> [""], matching Spark's split(trim(x))
    if len(toks) < n:
        return None
    sh = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
    hs = sorted(int(hashlib.md5(s.encode()).hexdigest()[:15], 16) for s in sh)
    return (len(hs), hs[0], hs[:k])


@SLOW
@given(docs=st.lists(_DOC, min_size=1, max_size=8))
def test_winnow_fingerprints_match_python_reference(spark, docs):
    from rdbms_subsetter_spark.operators.dedup import winnow_fingerprints

    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_shingles"], r["min_hash"], list(r["bottom_k"]))
        for r in winnow_fingerprints(df, n=3, k=4).collect()
    }
    want = {}
    for i, d in enumerate(docs):
        ref = _py_winnow(d, n=3, k=4)
        if ref is not None:
            want[i] = (ref[0], ref[1], ref[2])
    assert got == want


# -- band join vs brute force -------------------------------------------------


@SLOW
@given(
    vals=st.lists(
        st.integers(min_value=-10, max_value=30), min_size=1, max_size=40
    ),
    edges=st.lists(
        st.integers(min_value=-10, max_value=30),
        min_size=2,
        max_size=6,
        unique=True,
    ),
)
def test_band_join_matches_bruteforce(spark, vals, edges):
    """band_join's broadcast non-equi join == the obvious per-row scan,
    including values exactly on band edges (lo inclusive, hi exclusive)
    and values outside every band (dropped)."""
    from rdbms_subsetter_spark.operators.joins import band_join

    cuts = sorted(edges)
    bands = [(float(lo), float(hi)) for lo, hi in zip(cuts, cuts[1:])]
    fact = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "rid long, v double"
    )
    got = sorted(
        (r["rid"], r["band_lo"]) for r in band_join(fact, "v", bands).collect()
    )
    want = sorted(
        (i, lo)
        for i, v in enumerate(vals)
        for lo, hi in bands
        if lo <= v < hi
    )
    assert got == want


# -- CDC changelog application (max_by + tombstone) vs pandas ----------------


@SLOW
@given(
    changes=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),    # key
            st.integers(min_value=0, max_value=5),    # ts (ties likely)
            st.sampled_from(["insert", "update", "error"]),
            st.integers(min_value=-50, max_value=50),  # value
        ),
        min_size=1,
        max_size=40,
    ),
)
def test_cdc_latest_wins_and_tombstones_delete(spark, changes):
    """The q_cdc_apply_changelog pattern on random changelogs: per-key
    argmax over (ts, event_id) — event_id breaks ts ties — and a
    tombstone as the last op removes the key.  Reference: plain pandas
    sort + tail(1)."""
    from pyspark.sql import functions as F

    rows = [(eid, k, t, op, float(v)) for eid, (k, t, op, v) in enumerate(changes)]
    df = spark.createDataFrame(
        rows, "event_id long, k long, ts long, op string, value double"
    )
    ordkey = F.struct(F.col("ts"), F.col("event_id"))
    snap = (
        df.groupBy("k")
        .agg(
            F.max_by("op", ordkey).alias("last_op"),
            F.max_by("value", ordkey).alias("last_value"),
            F.count(F.lit(1)).alias("n"),
        )
        .filter(F.col("last_op") != "error")
    )
    got = {
        r["k"]: (r["last_op"], r["last_value"], r["n"]) for r in snap.collect()
    }

    pdf = pd.DataFrame(rows, columns=["event_id", "k", "ts", "op", "value"])
    want = {}
    for k, g in pdf.sort_values(["ts", "event_id"]).groupby("k"):
        last = g.iloc[-1]
        if last.op != "error":
            want[int(k)] = (last.op, float(last.value), len(g))
    assert got == want


# -- MinHash+LSH end-to-end vs pure-python replica ---------------------------


def _py_shingle_strings(text: str, n: int = 3):
    t = text.lower()
    t = re.sub(r"[!-/:-@\[-`{-~]", " ", t)
    t = re.sub(r"\s+", " ", t).strip()
    toks = t.split(" ")
    if len(toks) < n:
        return set()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _py_minhash_sig(sh: set, num_hashes: int = 16):
    """Replica of dedup.minhash_signatures: k INDEPENDENT salted md5s
    h_i(s) = int(md5(f"{i}|{s}")[:15], 16), component-wise min over
    the shingle set (the round-7 scheme — the correlated double-hashed
    derivation was removed after it megabucketed LSH candidates)."""
    return [
        min(
            int(hashlib.md5(f"{i}|{s}".encode()).hexdigest()[:15], 16)
            for s in sh
        )
        for i in range(num_hashes)
    ]


@SLOW
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=0, max_size=6)
        .map(" ".join),
        min_size=2,
        max_size=8,
    ),
)
def test_minhash_lsh_pairs_match_python_replica_exactly(spark, docs):
    """The ENTIRE MinHash+LSH pipeline is deterministic (independent
    salted md5s for candidates, exact shingle-set Jaccard for
    verification, no rand()), so the output on arbitrary docs must equal a
    pure-python replica bit-for-bit — including jaccard values.  Docs
    drawn from a 4-word vocabulary so shared shingles (and planted
    exact duplicates via doc repetition) are common."""
    from rdbms_subsetter_spark.operators.dedup import minhash_lsh_pairs

    docs = docs + [docs[0]]  # plant at least one identical pair
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id long, text string"
    )
    num_hashes, bands, threshold = 16, 4, 0.5
    r = num_hashes // bands
    got = {
        (x["doc_id_1"], x["doc_id_2"]): x["jaccard"]
        for x in minhash_lsh_pairs(
            df, num_hashes=num_hashes, bands=bands, n=3, threshold=threshold
        ).collect()
    }

    sigs, shsets = {}, {}
    for i, d in enumerate(docs):
        sh = _py_shingle_strings(d, 3)
        if sh:
            sigs[i] = _py_minhash_sig(sh, num_hashes)
            shsets[i] = sh
    want = {}
    ids = sorted(sigs)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            i, j = ids[ai], ids[bi]
            si, sj = sigs[i], sigs[j]
            shares_band = any(
                si[b * r : (b + 1) * r] == sj[b * r : (b + 1) * r]
                for b in range(bands)
            )
            if not shares_band:
                continue
            inter = len(shsets[i] & shsets[j])
            union = len(shsets[i] | shsets[j])
            jac = inter / union
            if jac >= threshold:
                want[(i, j)] = round(jac, 6)
    assert got == want

    # the planted identical pair must be reported at jaccard 1.0
    # whenever the duplicated doc has any shingles at all
    if 0 in sigs:
        assert got[(0, len(docs) - 1)] == 1.0


# -- SimHash pairs vs brute-force python replica ------------------------------


def _py_simhash_per_bit(text: str, bits: int = 64):
    """Replica of dedup._simhash_sig per bit: every token OCCURRENCE (not
    distinct) hashed with the salt-0 portable md5 hash; per bit, the
    sign of the ±1 sum; ties (sum == 0) give bit 0."""
    t = text.lower()
    t = re.sub(r"[!-/:-@\[-`{-~]", " ", t)
    t = re.sub(r"\s+", " ", t).strip()
    toks = t.split(" ")  # "" -> [""], the empty token still hashes
    sums = [0] * bits
    for tok in toks:
        h = int(hashlib.md5(f"0|{tok}".encode()).hexdigest()[:15], 16)
        for b in range(bits):
            sums[b] += 1 if (h >> b) & 1 else -1
    return [1 if s > 0 else 0 for s in sums]


@SLOW
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc"]), min_size=0, max_size=5)
        .map(" ".join),
        min_size=2,
        max_size=8,
    ),
)
def test_simhash_pairs_equal_bruteforce_hamming(spark, docs):
    """simhash_pairs' 16-bit-chunk blocking is pigeonhole-EXACT for
    Hamming <= 3 (any such pair agrees on a full chunk), so the output
    must equal the brute-force all-pairs Hamming filter computed from a
    pure-python simhash replica — candidates lost to blocking or
    signature drift would both break this."""
    from rdbms_subsetter_spark.operators.dedup import simhash_pairs

    docs = docs + [docs[-1]]  # planted duplicate -> hamming 0 pair
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id long, text string"
    )
    got = {
        (r["doc_id_1"], r["doc_id_2"]): r["hamming"]
        for r in simhash_pairs(df, max_hamming=3).collect()
    }
    sigs = [_py_simhash_per_bit(d) for d in docs]
    want = {}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            ham = sum(a != b for a, b in zip(sigs[i], sigs[j]))
            if ham <= 3:
                want[(i, j)] = ham
    assert got == want
    assert want[(len(docs) - 2, len(docs) - 1)] == 0  # the planted dup


# -- exact n-gram Jaccard pairs vs brute force --------------------------------


@SLOW
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=0, max_size=7)
        .map(" ".join),
        min_size=2,
        max_size=8,
    ),
)
def test_ngram_jaccard_pairs_match_bruteforce(spark, docs):
    """Unlike minhash/simhash, ngram_jaccard_pairs is EXACT: the
    inverted-index self-join must produce precisely the set-Jaccard of
    the shingle sets, for every pair over threshold (planted duplicate
    included at jaccard 1.0)."""
    from rdbms_subsetter_spark.operators.dedup import ngram_jaccard_pairs

    docs = docs + [docs[0]]
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id long, text string"
    )
    thr = 0.3
    got = {
        (r["doc_id_1"], r["doc_id_2"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, n=3, threshold=thr).collect()
    }
    sets = {i: _py_shingle_strings(d, 3) for i, d in enumerate(docs)}
    want = {}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            inter = len(sets[i] & sets[j])
            if inter == 0:
                continue
            jac = round(inter / len(sets[i] | sets[j]), 6)
            if jac >= thr:
                want[(i, j)] = jac
    assert got == want


# -- 5-gram decontamination vs brute force ------------------------------------


@SLOW
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc"]), min_size=0, max_size=8)
        .map(" ".join),
        min_size=4,
        max_size=12,
    ),
)
def test_decontaminate_ngram_matches_bruteforce(spark, docs):
    """The decontamination join (train shingles probed against the
    broadcast eval index) on arbitrary docs: per-train-doc shared-5gram
    and touched-eval-doc counts must equal the brute-force set
    intersection.  Eval split = doc_id % 20 == 0, mirroring the graded
    query."""
    from pyspark.sql import functions as F

    from rdbms_subsetter_spark.operators import dedup

    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id long, text string"
    )
    sh = dedup.shingles(df, n=5)
    ev = sh.filter(F.col("doc_id") % 20 == 0).select(
        F.col("doc_id").alias("eval_doc"), "shingle"
    )
    tr = sh.filter(F.col("doc_id") % 20 != 0)
    got = {
        r["doc_id"]: (r["n_shared"], r["n_eval_docs"])
        for r in tr.join(F.broadcast(ev), on="shingle")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("shingle").alias("n_shared"),
            F.countDistinct("eval_doc").alias("n_eval_docs"),
        )
        .collect()
    }

    sets = {i: _py_shingle_strings(d, 5) for i, d in enumerate(docs)}
    eval_ids = [i for i in sets if i % 20 == 0]
    want = {}
    for i, s in sets.items():
        if i % 20 == 0:
            continue
        shared = set().union(*(s & sets[e] for e in eval_ids)) if eval_ids else set()
        touched = sum(1 for e in eval_ids if s & sets[e])
        if shared:
            want[i] = (len(shared), touched)
    assert got == want


# -- gap sessionization pattern vs python reference ---------------------------


@SLOW
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),        # user
            st.integers(min_value=0, max_value=10_000),   # ts seconds
        ),
        min_size=1,
        max_size=40,
    ),
)
def test_gap_sessionize_matches_python_reference(spark, events):
    """The q_sessionize pattern (lag + cumsum over a 30-min gap) on
    arbitrary event streams — including ts ties, where (ts, event_id)
    is the total order — must produce the same (n_events, start, end)
    per session as a sequential python scan."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = [(eid, u, t) for eid, (u, t) in enumerate(events)]
    df = spark.createDataFrame(rows, "event_id long, user_id long, sec long")
    df = df.withColumn("ts", F.timestamp_seconds(F.col("sec")))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    starts = F.when(gap_us.isNull() | (gap_us > 1800 * 1_000_000), 1).otherwise(0)
    sess = df.select(
        "user_id", "sec", "event_id", starts.alias("is_start")
    ).withColumn(
        "session_id",
        F.sum("is_start").over(
            Window.partitionBy("user_id")
            .orderBy("sec", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    got = {
        (r["user_id"], r["session_id"]): (r["n"], r["lo"], r["hi"])
        for r in sess.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("sec").alias("lo"),
            F.max("sec").alias("hi"),
        )
        .collect()
    }

    want = {}
    by_user = {}
    for eid, u, t in sorted(rows, key=lambda r: (r[1], r[2], r[0])):
        by_user.setdefault(u, []).append(t)
    for u, ts_list in by_user.items():
        sid = 0
        prev = None
        for t in ts_list:
            if prev is None or t - prev > 1800:
                sid += 1
                want[(u, sid)] = [0, t, t]
            cur = want[(u, sid)]
            cur[0] += 1
            cur[2] = max(cur[2], t)
            prev = t
    assert got == {k: tuple(v) for k, v in want.items()}


# -- M4 downsampling pattern vs pandas ----------------------------------------


@SLOW
@given(
    points=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),       # series key
            st.integers(min_value=0, max_value=5),       # bucket (ts ties likely)
            st.integers(min_value=-100, max_value=100),  # value
        ),
        min_size=1,
        max_size=40,
    ),
)
def test_m4_downsample_matches_pandas(spark, points):
    """The q_events_downsample_m4 pattern: per bucket, first/last by the
    (ts, event_id) total order plus min/max — exactly what a sequential
    pandas pass produces, ts ties included."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = [(eid, k, t, float(v)) for eid, (k, t, v) in enumerate(points)]
    df = spark.createDataFrame(rows, "event_id long, k long, ts long, value double")
    w = Window.partitionBy("k", "ts")
    asc = w.orderBy(F.col("ts").asc(), F.col("event_id").asc())
    desc = w.orderBy(F.col("ts").desc(), F.col("event_id").desc())
    got = {
        (r["k"], r["ts"]): (r["n"], r["v_first"], r["v_last"], r["v_min"], r["v_max"])
        for r in df.withColumn("rf", F.row_number().over(asc))
        .withColumn("rl", F.row_number().over(desc))
        .groupBy("k", "ts")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max(F.when(F.col("rf") == 1, F.col("value"))).alias("v_first"),
            F.max(F.when(F.col("rl") == 1, F.col("value"))).alias("v_last"),
            F.min("value").alias("v_min"),
            F.max("value").alias("v_max"),
        )
        .collect()
    }
    pdf = pd.DataFrame(rows, columns=["event_id", "k", "ts", "value"])
    want = {}
    for (k, t), g in pdf.sort_values(["ts", "event_id"]).groupby(["k", "ts"]):
        want[(int(k), int(t))] = (
            len(g),
            float(g.iloc[0].value),
            float(g.iloc[-1].value),
            float(g.value.min()),
            float(g.value.max()),
        )
    assert got == want


# -- ordered funnel pattern vs python reference --------------------------------


@SLOW
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),                     # user
            st.integers(min_value=0, max_value=20),                    # ts
            st.sampled_from(["view", "click", "purchase", "error"]),
        ),
        min_size=1,
        max_size=40,
    ),
)
def test_funnel_stages_match_python_reference(spark, events):
    """The q_events_funnel pattern (first view -> first later click ->
    first later purchase, strict >) on arbitrary event logs vs a
    sequential python scan."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(events, "user_id long, ts long, event_type string")
    v = df.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t0")
    )
    c = (
        df.filter(F.col("event_type") == "click")
        .join(v, on="user_id")
        .filter(F.col("ts") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    p = (
        df.filter(F.col("event_type") == "purchase")
        .join(c, on="user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    got = {
        r["funnel_stage"]: r["n_users"]
        for r in v.join(c, on="user_id", how="left")
        .join(p, on="user_id", how="left")
        .select(
            F.when(F.col("t2").isNotNull(), F.lit(3))
            .when(F.col("t1").isNotNull(), F.lit(2))
            .otherwise(F.lit(1))
            .alias("funnel_stage")
        )
        .groupBy("funnel_stage")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .collect()
    }

    want = {}
    users = {u for u, _, _ in events}
    for u in users:
        mine = [(t, e) for uu, t, e in events if uu == u]
        views = [t for t, e in mine if e == "view"]
        if not views:
            continue
        t0 = min(views)
        clicks = [t for t, e in mine if e == "click" and t > t0]
        stage = 1
        if clicks:
            t1 = min(clicks)
            stage = 2
            if [t for t, e in mine if e == "purchase" and t > t1]:
                stage = 3
        want[stage] = want.get(stage, 0) + 1
    assert got == want


# -- first/last-touch attribution vs python reference -------------------------


@SLOW
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),                      # user
            st.integers(min_value=0, max_value=8),                      # ts (ties!)
            st.sampled_from(["click", "view", "signup", "purchase", "error"]),
            st.integers(min_value=0, max_value=50),                     # value
        ),
        min_size=1,
        max_size=40,
    ),
)
def test_attribution_matches_python_reference(spark, events):
    """The q_events_attribution single-window pattern (first/last touch
    before or at each purchase in (ts, event_id) order) vs a sequential
    python scan; integer values keep the sums exact."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    touches = ("click", "view", "signup")
    rows = [(eid, u, t, e, float(v)) for eid, (u, t, e, v) in enumerate(events)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts long, event_type string, value double"
    )
    touch = F.when(F.col("event_type").isin(*touches), F.col("event_type"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = df.select(
        "event_type",
        "value",
        F.last(touch, ignorenulls=True).over(w).alias("lt"),
        F.first(touch, ignorenulls=True).over(w).alias("ft"),
    ).where(F.col("event_type") == "purchase")
    got = {
        (r["mode"], r["touch_type"]): (r["n"], r["val"])
        for r in flagged.select(
            "value",
            F.explode(
                F.array(
                    F.struct(
                        F.lit("last").alias("mode"),
                        F.coalesce("lt", F.lit("none")).alias("touch_type"),
                    ),
                    F.struct(
                        F.lit("first").alias("mode"),
                        F.coalesce("ft", F.lit("none")).alias("touch_type"),
                    ),
                )
            ).alias("m"),
        )
        .groupBy(F.col("m.mode").alias("mode"), F.col("m.touch_type").alias("touch_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("val"))
        .collect()
    }

    want = {}
    by_user = {}
    for eid, u, t, e, v in rows:
        by_user.setdefault(u, []).append((t, eid, e, v))
    for u, evs in by_user.items():
        first = last = None
        for t, eid, e, v in sorted(evs):
            if e in touches:
                if first is None:
                    first = e
                last = e
            if e == "purchase":
                for mode, tt in (("last", last or "none"), ("first", first or "none")):
                    n, s = want.get((mode, tt), (0, 0.0))
                    want[(mode, tt)] = (n + 1, s + v)
    assert got == want


# -- int8 quantization vs python replica ---------------------------------------

import math


@SLOW
@given(
    vecs=st.lists(
        st.lists(
            st.floats(
                min_value=-100, max_value=100, allow_nan=False, width=32
            ),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=10,
    ),
)
def test_quantize_int8_matches_python_replica(spark, vecs):
    """quantize_int8's codegen array math vs an exact python replica:
    q_i = HALF_UP-round((x_i - min)/scale) with scale = (max-min)/255;
    constant vectors (max == min) must quantize to all zeros."""
    from rdbms_subsetter_spark.operators.similarity import quantize_int8

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vec_id"]: (r["q_min"], r["q_scale"], list(r["q_vec"]))
        for r in quantize_int8(df).collect()
    }
    want = {}
    for i, v in enumerate(vecs):
        dv = [float(struct_f32(x)) for x in v]
        mn, mx = min(dv), max(dv)
        scale = (mx - mn) / 255.0
        if mx == mn:
            qv = [0] * len(dv)
        else:
            # Spark F.round on doubles is HALF_UP; operands here are >= 0
            qv = [int(math.floor((x - mn) / scale + 0.5)) for x in dv]
        want[i] = (round(mn, 6), round(scale, 9) if mx != mn else 0.0, qv)
    for i in want:
        g, w = got[i], want[i]
        assert g[2] == w[2], (i, g, w)
        assert abs(g[0] - w[0]) < 1e-9 and abs(g[1] - w[1]) < 1e-9


def struct_f32(x: float) -> float:
    """Round-trip a python float through float32, as the array<float>
    column does before quantize_int8 widens it back to double."""
    import struct

    return struct.unpack("f", struct.pack("f", x))[0]


# -- token entropy vs python replica -------------------------------------------


@SLOW
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=1, max_size=15)
        .map(" ".join),
        min_size=1,
        max_size=8,
    ),
)
def test_token_entropy_matches_python_reference(spark, docs):
    """Per-doc Shannon entropy H = log2(n) - (sum c*log2 c)/n from the
    two-stage groupBy vs direct python computation (tolerance absorbs
    summation-order ULP drift under the 4-decimal rounding)."""
    from pyspark.sql import functions as F

    from rdbms_subsetter_spark.operators import text

    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id long, text string"
    )
    counts = (
        df.select("doc_id", F.explode(text.tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    got = {
        r["doc_id"]: (r["n_tok"], r["n_unique"], r["token_entropy"])
        for r in counts.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tok"),
            F.count(F.lit(1)).alias("n_unique"),
            F.round(
                F.log2(F.sum("c")) - F.sum(F.col("c") * F.log2("c")) / F.sum("c"), 4
            ).alias("token_entropy"),
        )
        .collect()
    }
    for i, d in enumerate(docs):
        toks = d.split(" ")
        cnt = {}
        for t in toks:
            cnt[t] = cnt.get(t, 0) + 1
        n = len(toks)
        h = math.log2(n) - sum(c * math.log2(c) for c in cnt.values()) / n
        gn, gu, gh = got[i]
        assert gn == n and gu == len(cnt)
        assert abs(gh - h) <= 5.1e-5


# -- chunk_windows vs python replica -------------------------------------------


@SLOW
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["x", "yy", "zzz"]), min_size=1, max_size=30)
        .map(" ".join),
        min_size=1,
        max_size=6,
    ),
)
def test_chunk_windows_matches_python_replica(spark, docs):
    """chunk_windows (chunk 7, stride 5 here so overlap and tail cases
    fire on short docs): every chunk equals the python slice replica —
    offsets 0,5,10,... <= len-1, chunk = toks[s:s+7], idx = s//5."""
    from rdbms_subsetter_spark.operators.text import chunk_windows

    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id long, text string"
    )
    got = sorted(
        (r["doc_id"], r["chunk_idx"], r["n_chunk_tokens"], r["chunk_text"])
        for r in chunk_windows(df, chunk_tokens=7, stride=5).collect()
    )
    want = []
    for i, d in enumerate(docs):
        toks = d.split(" ")
        s = 0
        while s <= max(len(toks) - 1, 0):
            piece = toks[s : s + 7]
            want.append((i, s // 5, len(piece), " ".join(piece)))
            s += 5
    assert got == sorted(want)


# -- deterministic split/sampling hashes vs python md5 replica -----------------


@SLOW
@given(
    keys=st.lists(
        st.one_of(
            st.integers(min_value=-(10**12), max_value=10**12),
            st.text(alphabet="abz09 _é", min_size=0, max_size=10),
        ),
        min_size=1,
        max_size=30,
        unique=True,
    ),
    seed=st.integers(min_value=0, max_value=1000),
)
def test_portable_pct_and_hash_bucket_match_md5_replica(spark, keys, seed):
    """The determinism claim behind train/valid/test splits and mixture
    sampling, verified against hashlib: portable_pct(key, seed) ==
    int(md5(f'{seed}|{key}')[:15 hex], 16) % 100 for ANY key (ints and
    unicode strings alike), and _hash_bucket(key) ==
    int(md5(str(key))[:8 hex], 16) % 10000.  Cross-engine, cross-rerun
    reproducibility reduces to this bit-equality."""
    from pyspark.sql import functions as F

    from rdbms_subsetter_spark.partitioning import portable_pct
    from rdbms_subsetter_spark.queries.text import _hash_bucket

    rows = [(i, str(k)) for i, k in enumerate(keys)]
    df = spark.createDataFrame(rows, "rid long, k string")
    got = {
        r["rid"]: (r["pct"], r["bucket"])
        for r in df.select(
            "rid",
            portable_pct(F.col("k"), seed).alias("pct"),
            _hash_bucket(F.col("k")).alias("bucket"),
        ).collect()
    }
    for i, k in rows:
        pct = int(hashlib.md5(f"{seed}|{k}".encode()).hexdigest()[:15], 16) % 100
        bucket = int(hashlib.md5(k.encode()).hexdigest()[:8], 16) % 10000
        assert got[i] == (pct, bucket), (k, got[i], (pct, bucket))


# -- exact heavy hitters vs python Counter -------------------------------------


@SLOW
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd", "ee"]), min_size=1, max_size=12)
        .map(" ".join),
        min_size=1,
        max_size=10,
    ),
)
def test_heavy_hitters_match_python_counter(spark, docs):
    """Exact corpus-wide token top-k (count desc, token asc tiebreak)
    vs collections.Counter — the TakeOrderedAndProject heap merge must
    lose nothing, ties included."""
    from collections import Counter

    from pyspark.sql import functions as F

    from rdbms_subsetter_spark.operators import text

    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id long, text string"
    )
    got = [
        (r["token"], r["n"])
        for r in df.select(F.explode(text.tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(3)
        .collect()
    ]
    cnt = Counter(t for d in docs for t in d.split(" "))
    want = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    assert got == want


# -- BPE pre-tokenizer vs python re --------------------------------------------


@SLOW
@given(
    texts=st.lists(
        st.text(alphabet="ab XY09.,!é\t", min_size=0, max_size=25),
        min_size=1,
        max_size=10,
    ),
)
def test_bpe_pretokenizer_matches_python_re(spark, texts):
    """The GPT-2-style pre-tokenizer regex (letter runs / digit runs /
    single punctuation) evaluated by Spark's regexp_extract_all must
    produce the same token arrays as python re.findall — ASCII and
    non-ASCII (é is neither [A-Za-z] nor \\s, so it splits as
    punctuation) alike."""
    from pyspark.sql import functions as F

    from rdbms_subsetter_spark.operators.text import BPE_SPLIT_RE, bpe_tokens

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "rid long, text string"
    )
    got = {
        r["rid"]: list(r["toks"])
        for r in df.select("rid", bpe_tokens(F.col("text")).alias("toks")).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == re.findall(BPE_SPLIT_RE, t), (i, t)


# -- cohort retention vs python reference ---------------------------------------


@SLOW
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),    # user
            st.integers(min_value=0, max_value=15),   # day
        ),
        min_size=1,
        max_size=40,
    ),
)
def test_cohort_retention_matches_python_reference(spark, events):
    """The q_events_retention pattern (first-activity cohort x
    day-offset distinct actives) on arbitrary activity logs vs a python
    dict scan — duplicate (user, day) activity must not double-count."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(events, "user_id long, day long")
    first = df.groupBy("user_id").agg(F.min("day").alias("cohort"))
    act = df.distinct()
    got = {
        (r["cohort"], r["day_offset"]): r["n_users"]
        for r in act.join(first, on="user_id")
        .select("cohort", (F.col("day") - F.col("cohort")).alias("day_offset"), "user_id")
        .groupBy("cohort", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .collect()
    }
    cohort = {}
    for u, d in events:
        cohort[u] = min(cohort.get(u, d), d)
    cells = {}
    for u, d in set(events):
        key = (cohort[u], d - cohort[u])
        cells.setdefault(key, set()).add(u)
    assert got == {k: len(v) for k, v in cells.items()}


# -- gopher rule battery vs python reference ------------------------------------


@SLOW
@given(
    docs=st.lists(
        st.text(alphabet="abc XY wz.!09  the and", min_size=0, max_size=60),
        min_size=1,
        max_size=10,
    ),
)
def test_gopher_rules_match_python_reference(spark, docs):
    """The q_docpipe_gopher_rules column expressions (token count,
    mean word length, alphabetic fraction, stopword floor, rule
    conjunction) vs a python scan.  Rule booleans are exact (same IEEE
    division on both sides); rounded floats compared at 1e-6."""
    from pyspark.sql import functions as F

    from rdbms_subsetter_spark.operators import text

    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id long, text string"
    )
    t = F.col("text")
    toks = text.tokens(t)
    n_tok = F.size(toks)
    mean_len = F.length(F.regexp_replace(t, r"\s+", "")) / n_tok
    alpha_frac = F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]"))) / n_tok
    arr = F.array(*[F.lit(w) for w in text.STOPWORDS["en"]])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(arr, x)))
    got = {
        r["doc_id"]: r.asDict()
        for r in df.select(
            "doc_id",
            n_tok.alias("n_tok"),
            F.round(mean_len, 6).alias("mean_len"),
            F.round(alpha_frac, 6).alias("alpha_frac"),
            n_stop.alias("n_stop"),
            (n_tok.between(2, 10) & (alpha_frac >= 0.8)).cast("int").alias("ok"),
        ).collect()
    }
    stop = set(text.STOPWORDS["en"])
    for i, d in enumerate(docs):
        toks_py = re.split(r"\s+", d.strip())
        n = len(toks_py)
        mean = len(re.sub(r"\s+", "", d)) / n
        alpha = sum(1 for x in toks_py if re.search("[A-Za-z]", x)) / n
        nst = sum(1 for x in toks_py if x in stop)
        g = got[i]
        assert g["n_tok"] == n and g["n_stop"] == nst, (i, d, g)
        assert abs(g["mean_len"] - round(mean, 6)) <= 1e-6
        assert abs(g["alpha_frac"] - round(alpha, 6)) <= 1e-6
        assert g["ok"] == int(2 <= n <= 10 and alpha >= 0.8)


# -- per-source cap (WindowGroupLimit path) vs python top-k ---------------------


@SLOW
@given(
    docs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),     # source
            st.integers(min_value=0, max_value=10),    # n_chars (ties!)
        ),
        min_size=1,
        max_size=40,
    ),
)
def test_per_source_cap_matches_python_topk(spark, docs):
    """The q_docs_per_source_cap pattern (row_number <= 3 per source,
    n_chars desc / doc_id asc) — the plan Spark executes through
    WindowGroupLimit partial top-k — must equal the python sort+slice,
    heavy ties included."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = [(i, s, c) for i, (s, c) in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, source long, n_chars long")
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    got = sorted(
        (r["doc_id"], r["source"], r["rk"])
        for r in df.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .collect()
    )
    want = []
    by_src = {}
    for i, s, c in rows:
        by_src.setdefault(s, []).append((-c, i))
    for s, lst in by_src.items():
        for rk, (_negc, i) in enumerate(sorted(lst)[:3], start=1):
            want.append((i, s, rk))
    assert got == sorted(want)


# -- per-group z-score math vs python reference ---------------------------------


@SLOW
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),     # type
            st.integers(min_value=-20, max_value=20),  # value
        ),
        min_size=2,
        max_size=40,
    ),
)
def test_zscore_math_matches_python_reference(spark, events):
    """The q_events_anomaly_zscore math (population mu/sigma broadcast
    back onto the scan) per row vs direct python computation; groups
    with sigma == 0 must yield NULL z for every member (try_divide —
    the plain `/` THROWS under Spark 4's default ANSI mode; this test
    found that bug in the graded query)."""
    from pyspark.sql import functions as F

    rows = [(i, t, float(v)) for i, (t, v) in enumerate(events)]
    df = spark.createDataFrame(rows, "event_id long, t long, value double")
    stats = df.groupBy("t").agg(
        F.avg("value").alias("mu"), F.stddev_pop("value").alias("sigma")
    )
    z = F.try_divide(F.col("value") - F.col("mu"), F.col("sigma"))
    got = {
        r["event_id"]: r["z"]
        for r in df.join(F.broadcast(stats), "t").select("event_id", z.alias("z")).collect()
    }
    groups = {}
    for i, t, v in rows:
        groups.setdefault(t, []).append(v)
    mus = {t: sum(vs) / len(vs) for t, vs in groups.items()}
    sigmas = {
        t: math.sqrt(sum((v - mus[t]) ** 2 for v in vs) / len(vs))
        for t, vs in groups.items()
    }
    for i, t, v in rows:
        if sigmas[t] == 0.0:
            assert got[i] is None, (i, got[i])
        else:
            want = (v - mus[t]) / sigmas[t]
            assert abs(got[i] - want) <= 1e-9 * max(1.0, abs(want)), (i, got[i], want)


# -- winsorized clipping vs numpy linear percentile ------------------------------


@SLOW
@given(
    vals=st.lists(
        st.integers(min_value=-50, max_value=50), min_size=2, max_size=40
    ),
)
def test_winsorize_clipping_matches_numpy(spark, vals):
    """The q_events_winsorize pattern: exact interpolated p05/p95
    (Spark F.percentile == numpy linear percentile), clip counts exact,
    winsorized mean within float tolerance."""
    import numpy as np

    from pyspark.sql import functions as F

    df = spark.createDataFrame([(float(v),) for v in vals], "value double")
    pcts = df.agg(
        F.percentile(F.col("value"), F.lit(0.05)).alias("p05"),
        F.percentile(F.col("value"), F.lit(0.95)).alias("p95"),
    )
    clipped = df.crossJoin(F.broadcast(pcts)).select(
        F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95")).alias("wv"),
        (F.col("value") < F.col("p05")).cast("long").alias("lo"),
        (F.col("value") > F.col("p95")).cast("long").alias("hi"),
    )
    r = clipped.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("lo").alias("n_lo"),
        F.sum("hi").alias("n_hi"),
        F.avg("wv").alias("wmean"),
    ).collect()[0]

    arr = np.array([float(v) for v in vals])
    p05 = float(np.percentile(arr, 5, method="linear"))
    p95 = float(np.percentile(arr, 95, method="linear"))
    wv = np.clip(arr, p05, p95)
    assert r["n"] == len(vals)
    assert r["n_lo"] == int((arr < p05).sum())
    assert r["n_hi"] == int((arr > p95).sum())
    assert abs(r["wmean"] - float(wv.mean())) <= 1e-9 * max(1.0, abs(wv.mean()))
