"""Round-7 property tests: independent-reference replicas for the new
battery entries, on crafted data that exercises the paths the driver's
testdata cannot guarantee — TTL eviction across out-of-order
micro-batches, LSH recall/soundness across the train/eval split, and
sketch tie-groups exactly at the top-k boundary.
"""

import datetime as dt
import os
import shutil
import tempfile
from collections import Counter

import pytest

from pyspark.sql import functions as F

TTL_DAYS = 7  # the trailing window of q_streaming_ttl_activity


@pytest.fixture(scope="module")
def multibatch_events_dir(spark):
    """An events table written as FOUR part files whose timestamps are
    deliberately shuffled across files: a later micro-batch delivers
    events OLDER than an earlier batch's max (late data), users span
    more than the 7-day TTL (eviction fires), and one user's entire
    history is stale except a final burst."""
    out = os.path.join(tempfile.gettempdir(), "rss_r07_multibatch_events")
    shutil.rmtree(out, ignore_errors=True)
    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    d = dt.timedelta
    rows = []  # (event_id, ts, user_id, event_type, value, payload)
    # user 1: 20 days of clicks, only the last 7 days survive
    for i in range(20):
        rows.append((100 + i, base + d(days=i), 1, "click", 1.0, "{}"))
    # user 2: stale views + one fresh burst 10 days later
    for i in range(5):
        rows.append((200 + i, base + d(days=i), 2, "view", 1.0, "{}"))
    rows.append((250, base + d(days=15), 2, "buy", 9.0, "{}"))
    rows.append((251, base + d(days=15, hours=1), 2, "buy", 9.0, "{}"))
    # user 3: everything inside one day (nothing evicted, 2 types)
    for i in range(6):
        rows.append((300 + i, base + d(hours=i), 3, "click" if i % 2 else "view", 1.0, "{}"))
    # user 4: exactly-at-the-boundary event (ts == umax - TTL survives:
    # the keep rule is >=)
    rows.append((400, base, 4, "view", 1.0, "{}"))
    rows.append((401, base + d(days=TTL_DAYS), 4, "click", 1.0, "{}"))

    # shuffle rows across 4 files so batch order != time order: sort by
    # a hash of event_id, then round-robin into files
    rows.sort(key=lambda r: hash((r[0] * 2654435761) & 0xFFFFFFFF))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, payload string",
    )
    os.makedirs(os.path.join(out), exist_ok=True)
    for i in range(4):
        part = spark.createDataFrame(
            [r for j, r in enumerate(rows) if j % 4 == i], df.schema
        )
        part.coalesce(1).write.mode("append").parquet(
            os.path.join(out, "events.parquet")
        )
    return out


def test_ttl_activity_multibatch_replay_matches_batch(spark, multibatch_events_dir):
    """The event-time-TTL stateful operator is deterministic under an
    out-of-order multi-batch replay: 4 part files = 4 micro-batches
    delivering late data, evictions firing mid-replay — the final
    result still equals the batch trailing-window computation."""
    from rdbms_subsetter_spark.queries.events import q_streaming_ttl_activity

    got = {
        (r["user_id"], r["event_type"]): (r["n_recent"], r["user_last_us"])
        for r in q_streaming_ttl_activity(spark, multibatch_events_dir).collect()
    }
    ev = spark.read.parquet(os.path.join(multibatch_events_dir, "events.parquet"))
    umax = {
        r["user_id"]: r["m"]
        for r in ev.groupBy("user_id").agg(F.max(F.unix_micros("ts")).alias("m")).collect()
    }
    ttl_us = TTL_DAYS * 24 * 3600 * 1_000_000
    want: dict = {}
    for r in ev.collect():
        us = int(r["ts"].timestamp() * 1_000_000)
        if us >= umax[r["user_id"]] - ttl_us:
            k = (r["user_id"], r["event_type"])
            n, _ = want.get(k, (0, None))
            want[k] = (n + 1, umax[r["user_id"]])
    assert got == want
    # the crafted data must actually exercise eviction + the boundary:
    assert got[(1, "click")][0] == 8          # ts >= umax-7d: days 12..19 inclusive
    assert (2, "view") not in got             # stale views evicted
    assert got[(2, "buy")][0] == 2
    assert got[(4, "view")][0] == 1           # >= boundary survives
    assert got[(4, "click")][0] == 1


def test_cross_corpus_pairs_sound_and_complete_for_exact_dups(spark):
    """minhash_cross_corpus_pairs: every reported pair's jaccard equals
    the brute-force value over true shingle sets (soundness — the true-
    Jaccard verify), reported pairs never join two docs on the same
    side of the split, and exact duplicates straddling the split are
    ALWAYS found (an exact dup agrees on every minhash component, so
    every band collides — recall 1 by construction)."""
    from rdbms_subsetter_spark.operators.dedup import minhash_cross_corpus_pairs

    texts = {
        # exact dup straddling the split (10 is eval, 11 is train)
        10: "alpha beta gamma delta epsilon zeta eta theta",
        11: "alpha beta gamma delta epsilon zeta eta theta",
        # near dup straddling the split
        20: "one two three four five six seven eight nine ten",
        21: "one two three four five six seven eight nine eleven",
        # train-train exact dup: must NOT be reported
        31: "red orange yellow green blue indigo violet",
        32: "red orange yellow green blue indigo violet",
        # unrelated docs
        40: "completely different text with no overlap at all here",
        41: "yet another unrelated document body for padding words",
    }
    df = spark.createDataFrame(
        [(k, v, "en", "t", len(v)) for k, v in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {
        (r["train_doc_id"], r["eval_doc_id"]): r["jaccard"]
        for r in minhash_cross_corpus_pairs(
            df, eval_mod=10, num_hashes=16, bands=4, threshold=0.3
        ).collect()
    }

    def sh3(text):
        toks = text.split()
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    for (t, e), j in got.items():
        assert t % 10 != 0 and e % 10 == 0  # true cross-split pairs only
        a, b = sh3(texts[t]), sh3(texts[e])
        assert j == round(len(a & b) / len(a | b), 6)
    assert got[(11, 10)] == 1.0  # exact dup always found
    assert (32, 31) not in got and (31, 32) not in got
    # the near-dup pair's true jaccard qualifies; if LSH found it the
    # value must be exact (found in practice: 5/8 of bands collide)
    if (21, 20) in got:
        a, b = sh3(texts[21]), sh3(texts[20])
        assert got[(21, 20)] == round(len(a & b) / len(a | b), 6)


def test_approx_top_k_strict_boundary_vs_counter(spark):
    """agg_approx_top_k's strict-boundary cut, replicated with a plain
    Counter, on a corpus crafted so a FIVE-way tie sits exactly at the
    k=20 boundary: the whole tie group must be dropped (the sketch's
    pick among tied items is arbitrary), everything strictly above it
    kept."""
    import __spark_entry__ as entry_mod

    # 17 tokens with distinct high counts, then 5 tokens tied at the
    # rank-18..22 boundary count, then tail singletons
    words = []
    for i in range(17):
        words += [f"top{i:02d}"] * (40 - i)
    for i in range(5):
        words += [f"tie{i}"] * 10
    words += [f"tail{i}" for i in range(30)]
    # one doc per word-run keeps tokenization trivial
    docs = [(i, " ".join(words[i::7]), "en", "t", 1) for i in range(7)]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = os.path.join(tempfile.gettempdir(), "rss_r07_topk_docs")
    shutil.rmtree(out, ignore_errors=True)
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))

    got = {
        (r["lang"], r["token"]): r["freq"]
        for r in entry_mod.queries()["agg_approx_top_k"](spark, out).collect()
    }
    counts = Counter(words)
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    kth = ranked[19][1] if len(ranked) >= 20 else -1
    want = {("en", w): c for w, c in counts.items() if c > kth}
    assert got == want
    # the crafted boundary must be real: the tie group straddles rank 20
    assert kth == 10 and all(("en", f"tie{i}") not in got for i in range(5))
    assert len(want) == 17
